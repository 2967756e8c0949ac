"""Driver-contract query catalog.

Every implemented operator from SURVEY.md section 2 gets a named query here
plus (where SQL-expressible) a DuckDB oracle string. ``__spark_entry__.py``
re-exports this registry.

Conventions that make the driver's hash compare deterministic:

- every computed column is aliased identically in Spark and SQL;
- double-valued aggregates are rounded (6 dp for ratios/averages, 2 dp for
  large money sums) on BOTH sides — cross-engine float summation order is
  not reproducible bit-for-bit, rounding is;
- DuckDB ``SUM`` over integers returns HUGEINT; oracles cast to BIGINT to
  match Spark's LongType;
- timestamp deltas are computed on int64 microseconds and divided once.

A CTE used by two oracles is a module constant ("Shared oracle CTE
fragments" below); ``tests/test_oracle_fragments.py`` enforces it. The
Spark side follows the same rule: an input frame or code chain that two
queries build is one helper here (or in the operator module that owns
the batch form), and ``tests/test_spark_fragments.py`` fails on any run
of six code lines written twice in the package.
"""

from __future__ import annotations

import atexit
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fireball_data_processing_spark import fixtures as FX
from fireball_data_processing_spark.schema import SYNTHETIC_STREAM
from fireball_data_processing_spark.sources.tables import load_table
from fireball_data_processing_spark.plans.agreement import _EM_ROUNDS, dawid_skene
from fireball_data_processing_spark.plans.heuristics import heuristics_matrix, HEURISTICS

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered views; None => rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _r6(c):  # ratio/average rounding
    return F.round(c, 6)


# =====================================================================
# Shared oracle CTE fragments
# =====================================================================
# A CTE that two oracles spell the same way is written once, here, and
# the oracles join it in with ``+``. A WITH-chain fragment opens with the
# leading newline and ``WITH`` of an oracle literal; every fragment ends
# at its last closing parenthesis, so the caller writes the separator.
# A ``*_BODY`` fragment is the parenthesized body of a CTE that two
# oracles name differently.

# The two word tokenizers of the reference's `' '`-split vs `split()`
# quirk (SURVEY.md "Exact reference quirks"): the first keeps the empty
# token a blank text splits into, the second drops it.
_WORDS_CTE = """
WITH words AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
)"""

_WORDS_NONEMPTY_CTE = """
WITH words AS (
  SELECT doc_id,
    list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                s -> s <> '') AS w
  FROM documents
)"""

# Distinct 3-word shingles of a ``words`` CTE (either tokenizer; the
# set-join oracle reads the non-empty one). MinHash: shingles -> 8
# md5-min signatures -> 4 LSH bands of 2 -> candidate pairs.
_SH_CTE = """sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
  FROM words, UNNEST(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
  WHERE len(w) >= 3
)"""
_SHINGLES_CTE = _WORDS_CTE + ",\n" + _SH_CTE

_MINHASH_CTE = _SHINGLES_CTE + """,
sig AS (
  SELECT doc_id,
    MIN(md5('0#' || shingle)) AS mh0, MIN(md5('1#' || shingle)) AS mh1,
    MIN(md5('2#' || shingle)) AS mh2, MIN(md5('3#' || shingle)) AS mh3,
    MIN(md5('4#' || shingle)) AS mh4, MIN(md5('5#' || shingle)) AS mh5,
    MIN(md5('6#' || shingle)) AS mh6, MIN(md5('7#' || shingle)) AS mh7
  FROM sh GROUP BY doc_id
)"""

_LSH_BANDS_CTE = """bands AS (
  SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
)"""

# "\n,\n" and the trailing newline keep the oracle text its users always had
_LSH_PAIRS_CTE = _MINHASH_CTE + "\n,\n" + _LSH_BANDS_CTE + """,
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
"""

# incoming docs (doc_id % 4 <> 0) sharing an LSH band with the corpus
# docs (doc_id % 4 = 0): the near-dup ingest gate's rejections
_NEAR_HITS_CTE = _MINHASH_CTE + ",\n" + _LSH_BANDS_CTE + """,
hits AS (
  SELECT DISTINCT i.doc_id
  FROM bands i JOIN bands c
    ON i.band_idx = c.band_idx AND i.band_key = c.band_key
  WHERE i.doc_id % 4 <> 0 AND c.doc_id % 4 = 0
)"""

# candidate pairs closed transitively (the chain made RECURSIVE for reach)
_LSH_CLOSURE_CTE = _LSH_PAIRS_CTE.replace(
    "WITH words", "WITH RECURSIVE words", 1
) + """,
e AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION SELECT id_b, id_a FROM cand
),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
)"""

# candidate pairs with their exact shingle Jaccard, and the 0.1..0.9 grid
_LSH_JACCARD_CTE = _LSH_PAIRS_CTE + """,
shs AS (SELECT doc_id, list_distinct(list(shingle)) AS shs FROM sh GROUP BY doc_id),
jp AS (
  SELECT c.id_a, c.id_b,
    ROUND(
      len(list_intersect(a.shs, b.shs))::DOUBLE
      / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))::DOUBLE,
    6) AS jaccard
  FROM cand c
  JOIN shs a ON a.doc_id = c.id_a
  JOIN shs b ON b.doc_id = c.id_b
),
grid AS (SELECT 10 * x AS threshold_pct FROM generate_series(1, 9) t(x))"""

# ExactSubstr spans: 8-gram hashes by position, then the hit positions
# merged into maximal islands.
_SPAN_GRAMS_CTE = _WORDS_CTE + """,
grams AS (
  SELECT doc_id, i - 1 AS pos,
    md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS gram
  FROM words, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
)"""

_SPAN_ISLANDS_CTE = """isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > COALESCE(MAX(pos + 8) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 1 ELSE 0 END AS brk
  FROM hits
),
grp AS (
  SELECT doc_id, pos, SUM(brk) OVER (
    PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
)"""

_DUP_SPANS_CTE = _SPAN_GRAMS_CTE + """,
dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
""" + _SPAN_ISLANDS_CTE

# winnowing: md5 of every 4-gram
_WINNOW_GRAMS_CTE = _WORDS_NONEMPTY_CTE + """,
grams AS (
  SELECT doc_id,
    list_transform(generate_series(1, len(w) - 3),
                   i -> md5(array_to_string(list_slice(w, i, i + 3), ' '))) AS g
  FROM words WHERE len(w) >= 4
)"""

# aligned 8-word segments, and per-segment doc count + keeper
_SEGMENTS_CTE = """segs AS (
  SELECT doc_id, (st // 8)::BIGINT AS seg_idx,
         array_to_string(list_slice(w, st + 1, st + 8), ' ') AS seg
  FROM words, UNNEST(generate_series(0, greatest(len(w) - 1, 0), 8)) AS t(st)
)"""

_SEG_STATS_BODY = """(
  SELECT seg, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS keeper
  FROM segs GROUP BY seg
)"""

# Corpus LM scores over ``words``: unigram counts, and add-0.5 bigram
# counts as windows over one bigram explode.
_UNIGRAM_CTE = """tok AS (
  SELECT doc_id, t.token FROM words, UNNEST(w) AS t(token) WHERE t.token <> ''
),
vocab AS (SELECT token, COUNT(*)::DOUBLE AS c FROM tok GROUP BY token),
tot AS (SELECT SUM(c) AS total FROM vocab)"""

_BIGRAMS_BODY = """(
  SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
)"""

_BIGRAM_COUNTS_CTE = """v AS (
  SELECT COUNT(DISTINCT t)::DOUBLE AS vsz
  FROM (SELECT UNNEST(w) AS t FROM words)
),
big AS """ + _BIGRAMS_BODY + """,
cnt AS (
  SELECT doc_id,
    COUNT(*) OVER (PARTITION BY prev, cur)::DOUBLE AS cb,
    COUNT(*) OVER (PARTITION BY prev)::DOUBLE AS cp
  FROM big
)"""

# top-1000 (log rank, log count) points of a Zipf fit over ``counts``
_ZIPF_RANKS_BODY = """(
  SELECT LN(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC)::DOUBLE) AS x,
         LN(c) AS y
  FROM counts
  QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) <= 1000
)"""

# Gopher quality metrics per document, and Flesch counts
_GOPHER_METRICS_CTE = """
WITH w AS (
  SELECT doc_id, text,
    regexp_split_to_array(trim(text), '\\s+') AS words,
    string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
    len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words) AS mean_wl,
    ((length(text) - length(replace(text, '#', '')))
     + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
      / len(words) AS symbol_ratio,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
      / len(words) AS alpha_ratio,
    len(list_filter(words, x -> list_contains(
      ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
      AS stop_hits,
    len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ')
      OR starts_with(l, chr(8226))))::DOUBLE / len(lines) AS bullet_ratio,
    len(list_filter(lines, l -> l LIKE '%...'))::DOUBLE / len(lines)
      AS ellipsis_ratio
  FROM w
)"""

_FLESCH_COUNTS_CTE = """f AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    s -> s <> '')) AS n_words,
    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)"""

# The training-corpus pipeline: C4-style line cleaning, exact dedup on
# the cleaned text, token-count quality bounds.
_CLEANED_CTE = """
WITH cleaned AS (
  SELECT doc_id, source,
    COALESCE(array_to_string(
      list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                  s -> s <> '' AND len(string_split_regex(s, '\\s+')) >= 50),
      chr(10)), '') AS clean_text
  FROM documents
  WHERE NOT (contains(lower(text), 'lorem ipsum')
             OR contains(lower(text), 'slow scan'))
),
nonempty AS (SELECT * FROM cleaned WHERE clean_text <> '')"""

_DEDUPED_CTE = """deduped AS (
  SELECT doc_id, source, clean_text FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(clean_text)) AS keeper
    FROM nonempty
  ) WHERE doc_id = keeper
)"""

_QUALITY_CTE = """quality AS (
  SELECT doc_id, source,
    len(string_split_regex(trim(clean_text), '\\s+'))::BIGINT AS n_tokens
  FROM deduped
  WHERE len(string_split_regex(trim(clean_text), '\\s+')) BETWEEN 5 AND 5000
)"""

# BM25 over the three fixed queries: query terms, document terms,
# postings and document frequencies.
_DOC_TERMS_CTE = """tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
)"""

_BM25_POSTINGS_CTE = """
WITH q(query_id, query_text) AS (
  VALUES (1, 'spark window aggregation'),
         (2, 'hash join shuffle partition'),
         (3, 'stream batch query')
),
qt AS (
  SELECT DISTINCT query_id, unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS term
  FROM q
),
""" + _DOC_TERMS_CTE + """,
stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM tok),
exploded AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok),
post AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM exploded
  WHERE term IN (SELECT term FROM qt)
  GROUP BY doc_id, dl, term
),
dft AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term)"""

# the md5-parity +-1 projection matrix of the 64 -> 16 JL sketch, and
# the first ten sketched vectors as queries
_RP_SIGNS_CTE = """s AS (
  SELECT j, list_transform(generate_series(1, 64),
    i -> CASE WHEN ('0x' || substr(md5(j::VARCHAR || '#' ||
                    (i - 1)::VARCHAR), 1, 1))::INT % 2 = 0
         THEN 1.0 ELSE -1.0 END) AS signs
  FROM UNNEST(generate_series(0, 15)) AS t(j)
)"""

_SKETCH_QUERIES_CTE = """q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, sk.sv AS qs
  FROM e JOIN sk USING (vec_id) WHERE e.vec_id < 10
)"""

# event-type transition counts (LEAD pairing per user)
_MARKOV_PAIRS_CTE = """
WITH pairs AS (
  SELECT src, dst, COUNT(*)::BIGINT AS n
  FROM (SELECT event_type AS src,
          LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
            AS dst
        FROM events) z
  WHERE dst IS NOT NULL GROUP BY 1, 2
)"""

# exact-dup ingest gate's corpus hash index (doc_id % 4 = 0)
_CORPUS_HASH_CTE = """
WITH corpus AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
  FROM documents WHERE doc_id % 4 = 0
)"""

# logged policy: context = user_id % 4, action = event_type, reward = value
_LOGGED_POLICY_CTE = """
WITH base AS (
  SELECT user_id % 4 AS context, event_type AS action, value::DOUBLE AS r
  FROM events
),
props AS (
  SELECT context, action,
    ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY context), 8) AS pi_logged
  FROM (SELECT context, action, COUNT(*)::BIGINT AS n
        FROM base GROUP BY 1, 2)
)"""

# per user: first signup, first purchase after it, and the data horizon
_SIGNUP_PURCHASE_CTE = """
WITH s AS (
  SELECT user_id, MIN(epoch_ns(ts)) AS s_ts
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
tmax AS (SELECT MAX(epoch_ns(ts)) AS t FROM events),
p AS (
  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS p_ts
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= s.s_ts
  GROUP BY 1
)"""

# per-day purchase share
_DAILY_SHARE_CTE = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_ns(ts) / 86400000000000.0) AS BIGINT) AS day,
    ROUND(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
          / COUNT(*), 8) AS share
  FROM events GROUP BY 1
)"""


# =====================================================================
# Heuristics engine (SURVEY section 2.4, A1-A15) — one grouped aggregation
# =====================================================================

_HEURISTIC_ORACLE = """
WITH feat AS (
  SELECT
    user_id, event_id, event_type, value,
    epoch_us(ts) AS ts_us,
    MAX(CASE WHEN event_type = 'purchase' THEN event_id END)
      OVER (PARTITION BY user_id) AS last_cmd_seq,
    LAST_VALUE(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_msg_ts_us,
    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS had_prior_msg,
    LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
  FROM events
)
SELECT
  user_id,
  COUNT(*) AS event_count,
  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS message_count,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS command_count,
  ROUND(CASE WHEN COUNT(CASE WHEN event_type = 'view' THEN 1 END) > 0
        THEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::DOUBLE
           / COUNT(CASE WHEN event_type = 'view' THEN 1 END)::DOUBLE END,
        6) AS message_to_command_ratio,
  ROUND(COALESCE(AVG(CASE WHEN event_type = 'view' THEN value END), 0.0), 6)
        AS average_message_length,
  COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS num_participants,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS num_turns,
  ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0.0)
        / (COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) + 1)::DOUBLE,
        6) AS avg_words_between_commands,
  ROUND(COALESCE(CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
        THEN COALESCE(SUM(CASE WHEN event_type = 'view' AND event_id < last_cmd_seq
                           THEN value END), 0.0)
           / COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::DOUBLE END, 0.0),
        6) AS avg_words_between_commands_excl_last,
  ROUND(COALESCE(ROUND(
          SUM(CASE WHEN event_type = 'purchase' AND prev_msg_ts_us IS NOT NULL
              THEN ts_us - prev_msg_ts_us END)::DOUBLE
          / COUNT(CASE WHEN event_type = 'purchase' AND prev_msg_ts_us IS NOT NULL
              THEN 1 END)) / 1000000.0, 0.0), 6)
        AS avg_time_between_message_and_command,
  ROUND(COALESCE(AVG(CASE WHEN event_type = 'purchase'
        THEN CASE WHEN COALESCE(had_prior_msg, 0) = 0 THEN 1.0 ELSE 0.0 END END),
        0.0), 6) AS ratio_of_commands_without_message,
  COUNT(CASE WHEN prev_type IS NOT NULL AND prev_type <> event_type THEN 1 END)
        AS num_turn_changes
FROM feat
GROUP BY user_id
"""

_ROUND6_HEURISTICS = (
    "message_to_command_ratio",
    "average_message_length",
    "avg_words_between_commands",
    "avg_words_between_commands_excl_last",
    "avg_time_between_message_and_command",
    "ratio_of_commands_without_message",
)


@query("heuristics_matrix", _HEURISTIC_ORACLE)
def q_heuristics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-instance heuristic suite in ONE scan + ONE shuffle
    (reference runs one full corpus scan per heuristic,
    heuristic_worker.py:129-131)."""
    events = load_table(spark, sf_dir, "events")
    out = heuristics_matrix(events, SYNTHETIC_STREAM, HEURISTICS)
    for c in _ROUND6_HEURISTICS:
        out = out.withColumn(c, _r6(F.col(c)))
    return out


# =====================================================================
# Sessionization / as-of / nearest / runs / correlation (section 2.3, 2.5)
# =====================================================================

# the synthetic stream's micro-second event time, shared by oracles below
_TS_US = "epoch_us(ts)"


@query(
    "asof_state_backward",
    f"""
SELECT event_id, user_id,
  LAST_VALUE(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_id
FROM events
""",
)
def q_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 combat_state_at_event: last 'signup' at-or-before each event
    (reference heuristics/utils.py:153-160)."""
    from fireball_data_processing_spark.operators.asof import asof_backward_col

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        asof_backward_col(
            F.col("event_type") == "signup", F.col("event_id"),
            ["user_id"], "event_id",
        ).alias("last_signup_id"),
    )


@query(
    "asof_state_forward",
    """
SELECT event_id, user_id,
  FIRST_VALUE(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_error_id
FROM events
""",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 combat_state_after_event: first 'error' at-or-after each event
    (reference heuristics/utils.py:162-169)."""
    from fireball_data_processing_spark.operators.asof import asof_forward_col

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        asof_forward_col(
            F.col("event_type") == "error", F.col("event_id"),
            ["user_id"], "event_id",
        ).alias("next_error_id"),
    )


@query(
    "nearest_purchase",
    f"""
WITH t AS (
  SELECT event_id, user_id, event_type, {_TS_US} AS ts_us,
    LAST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      OVER w_b AS bwd_id,
    LAST_VALUE(CASE WHEN event_type = 'purchase' THEN {_TS_US} END IGNORE NULLS)
      OVER w_b AS bwd_ts,
    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      OVER w_f AS fwd_id,
    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN {_TS_US} END IGNORE NULLS)
      OVER w_f AS fwd_ts
  FROM events
  WINDOW
    w_b AS (PARTITION BY user_id ORDER BY {_TS_US},
            CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_f AS (PARTITION BY user_id ORDER BY {_TS_US},
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id,
  CASE WHEN fwd_ts IS NULL
         OR (bwd_ts IS NOT NULL AND (ts_us - bwd_ts) <= (fwd_ts - ts_us))
       THEN bwd_id ELSE fwd_id END AS purchase_id_nearest,
  CASE WHEN fwd_ts IS NULL
         OR (bwd_ts IS NOT NULL AND (ts_us - bwd_ts) <= (fwd_ts - ts_us))
       THEN ts_us - bwd_ts ELSE fwd_ts - ts_us END AS nearest_delta
FROM t WHERE event_type = 'view'
""",
)
def q_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8/J3 nearest-in-time join: each view attaches to the purchase
    minimizing |ts delta|, ties to the earlier one (reference
    distill1_time_group.py:48-52 — merge_asof(direction='nearest'))."""
    from fireball_data_processing_spark.operators.asof import nearest_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts_us"
    )
    out = nearest_join(
        views, purchases, ["user_id"], "ts_us", "purchase_id", prefer="backward"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("purchase_id_nearest"),
        F.col("nearest_delta"),
    )


@query(
    "run_lengths",
    """
WITH flagged AS (
  SELECT user_id, event_id, event_type, value,
    CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
runs AS (
  SELECT user_id, event_id, event_type, value,
    SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
  MIN(event_type) AS event_type,
  COUNT(*) AS run_len,
  ROUND(SUM(value), 6) AS run_value_sum
FROM runs
GROUP BY user_id, run_id
""",
)
def q_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 consecutive-run grouping (reference distill1_time_group.py:33-42):
    change-point flag -> running sum -> per-run aggregates."""
    from fireball_data_processing_spark.operators.runs import with_run_ids

    ev = load_table(spark, sf_dir, "events")
    runs = with_run_ids(ev, ["user_id"], "event_id", ["event_type"])
    return runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.count(F.lit(1)).alias("run_len"),
        F.round(F.sum("value"), 6).alias("run_value_sum"),
    )


@query(
    "correlation_groups",
    """
WITH keyed AS (
  SELECT user_id, event_id, event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
),
anchors AS (
  SELECT DISTINCT user_id, k FROM keyed WHERE event_type = 'view'
)
SELECT keyed.user_id AS user_id, keyed.k AS k, COUNT(*) AS n_events
FROM keyed SEMI JOIN anchors
  ON keyed.user_id = anchors.user_id AND keyed.k = anchors.k
GROUP BY keyed.user_id, keyed.k
""",
)
def q_correlation_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 message-group correlation (reference heuristics/utils.py:92-110):
    events keep only correlation keys anchored by a message-role event —
    a window max(is_anchor) over (instance, correlation_id), one scan and
    one shuffle; the grouped count reuses the same exchange."""
    from fireball_data_processing_spark.operators.correlate import (
        with_correlation_groups,
    )

    ev = load_table(spark, sf_dir, "events")
    corr = F.get_json_object(F.col("props"), "$.k").cast("int")
    grouped = with_correlation_groups(
        ev, ["user_id"], corr, F.col("event_type") == "view", corr_col="k"
    )
    return grouped.groupBy("user_id", "k").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "history_window_sums",
    """
SELECT event_id, user_id,
  COUNT(value) OVER w AS hist_count,
  ROUND(SUM(value) OVER w, 6) AS hist_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
""",
)
def q_history_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12 utterance-history window (reference distill4_normalize.py:383-399):
    rolling stats over the 5 rows strictly before each event."""
    from fireball_data_processing_spark.operators.windows import history_window

    ev = load_table(spark, sf_dir, "events")
    out = history_window(
        ev, ["user_id"], "event_id", F.col("value"), k=5, agg="count",
        out_col="hist_count",
    )
    out = history_window(
        out, ["user_id"], "event_id", F.col("value"), k=5, agg="sum",
        out_col="hist_sum",
    )
    return out.select(
        "event_id", "user_id", "hist_count", F.round("hist_sum", 6).alias("hist_sum")
    )


@query(
    "find_error_after_purchase",
    """
WITH t AS (
  SELECT event_id, user_id, event_type,
    FIRST_VALUE(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN 1 FOLLOWING AND 50 FOLLOWING) AS first_error_id
  FROM events
)
SELECT event_id, user_id, first_error_id
FROM t WHERE event_type = 'purchase'
""",
)
def q_find_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 bounded window search `find` (reference heuristics/utils.py:127-148):
    first matching event within the next 50 rows of each anchor."""
    from fireball_data_processing_spark.operators.windows import find_first_after

    ev = load_table(spark, sf_dir, "events")
    out = find_first_after(
        ev,
        ["user_id"],
        "event_id",
        anchor_predicate=F.col("event_type") == "purchase",
        match_predicate=F.col("event_type") == "error",
        value=F.col("event_id"),
        lookahead=50,
        out_col="first_error_id",
    )
    return out.select("event_id", "user_id", "first_error_id")


# =====================================================================
# Generic join / aggregation / sort / sampling inventory
# (sections 2.5 J1/J4/J10, 2.6 O1-O8, A16/A19/A20)
# =====================================================================


@query(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  ROUND(SUM(l_quantity), 2) AS sum_qty,
  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  ROUND(AVG(l_quantity), 6) AS avg_qty,
  ROUND(AVG(l_extendedprice), 6) AS avg_price,
  ROUND(AVG(l_discount), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16-style single-pass multi-aggregate rollup over the fact table
    (the TPC-H Q1 shape; partial aggregation map-side, one shuffle on a
    2-value key)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "revenue_by_nation",
    """
SELECT n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2-style star join (TPC-H Q5 shape). Dims (nation/region/supplier)
    are broadcast — no shuffle of the fact side for them; the only big
    shuffle is lineitem x orders on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        # supplier scales with SF: no forced hint — statistics/AQE decide
        # (it broadcasts at test scale, falls back to SMJ on a cluster).
        # nation/region are bounded at 25/5 rows forever: hint is safe.
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "top_customers_page",
    """
SELECT c_custkey, ROUND(revenue, 2) AS revenue FROM (
  SELECT c_custkey, SUM(o_totalprice) AS revenue,
    ROW_NUMBER() OVER (ORDER BY SUM(o_totalprice) DESC, c_custkey ASC) AS rn
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey
) WHERE rn <= 10
""",
)
def q_top_customers_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2/O3 explorer sort+pagination over an aggregate (multi-key sort
    with id tiebreak, page slice)."""
    from fireball_data_processing_spark.operators.windows import paginate

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    page = paginate(rev, [("revenue", False)], "c_custkey", page=0, page_size=10)
    return page.select("c_custkey", F.round("revenue", 2).alias("revenue"))


@query(
    "customers_without_orders",
    """
SELECT c_custkey FROM customer
ANTI JOIN orders ON o_custkey = c_custkey
""",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 left-anti join (reference excludes command message_ids,
    old/distill_rp_commands.py:62-63)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    ).select("c_custkey")


@query(
    "late_order_priorities",
    """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders SEMI JOIN lineitem
  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
GROUP BY o_orderpriority
""",
)
def q_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 semi-join restriction (TPC-H Q4 shape): orders having at least
    one lineitem shipped after the order date."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "event_stats_rollup",
    """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY ROLLUP (event_type)
""",
)
def q_event_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 corpus statistics with a grand-total rollup (reference
    scripts/count_num_chars_in_dataset.py:31-93 does per-type Counters plus
    a global roll-up — a natural GROUP BY ROLLUP)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.rollup("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "znorm_user_values",
    """
SELECT event_id, user_id,
  ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 6) + 0.0 AS z
FROM events
WINDOW w AS (PARTITION BY user_id)
""",
)
def q_znorm_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 per-rater z-normalization (reference
    human_eval/results_analysis.py:78-85) as a partition window."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    # + 0.0 canonicalizes IEEE negative zero (round of a tiny negative) so
    # both engines hash the same representation
    return ev.select("event_id", "user_id", (F.round(z, 6) + 0.0).alias("z"))


@query(
    "deterministic_sample_events",
    """
SELECT event_id,
  ROUND(('0x' || substr(md5('s1' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
        / 4294967296.0, 10) AS hr
FROM events
ORDER BY ('0x' || substr(md5('s1' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
        / 4294967296.0, event_id
LIMIT 100
""",
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 seeded-shuffle-then-head-N (reference finetune_prep.py:192-196),
    re-expressed as deterministic hash ordering — stable under
    repartitioning and engine changes, unlike seeded RNG."""
    from fireball_data_processing_spark.operators.sampling import (
        deterministic_sample,
        hash_rank,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id")
    out = deterministic_sample(ev, F.col("event_id"), 100, salt="s1")
    return out.select(
        "event_id", F.round(hash_rank(F.col("event_id"), "s1"), 10).alias("hr")
    )


@query(
    "train_test_split_counts",
    """
SELECT
  CASE WHEN ('0x' || substr(md5('v1' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            / 4294967296.0 < 0.25
       THEN 'test' ELSE 'train' END AS split,
  COUNT(DISTINCT user_id) AS n_users,
  COUNT(*) AS n_events
FROM events
GROUP BY 1
""",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 instance-disjoint train/test split (reference
    finetune_prep.py:174-177): every event of a user lands in one split."""
    from fireball_data_processing_spark.operators.sampling import deterministic_split

    ev = load_table(spark, sf_dir, "events")
    out = deterministic_split(ev, F.col("user_id"), 0.25, salt="v1")
    return out.groupBy("split").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "paginate_events",
    """
SELECT event_id, value FROM (
  SELECT event_id, value,
    ROW_NUMBER() OVER (ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn > 500 AND rn <= 750
""",
)
def q_paginate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 pagination (explorer page slices of 250)."""
    from fireball_data_processing_spark.operators.windows import paginate

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return paginate(ev, [("value", False)], "event_id", page=2, page_size=250)


# =====================================================================
# Documents: token counting, quality, language-ID, fingerprints, dedup
# (F6/F7/F17/A16 + the LLM-pipeline text-analysis extensions)
# =====================================================================


@query(
    "doc_token_stats",
    """
SELECT doc_id,
  length(text) AS n_chars,
  CAST(length(text) // 4 AS BIGINT) AS approx_tokens,
  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
  len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_ish_tokens
FROM documents
""",
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 token counting (reference estimates tokens as chars/4,
    finetune_prep.py:223-228) plus whitespace and BPE-ish counts."""
    from fireball_data_processing_spark.functions import textstats as ts

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars"),
        ts.approx_token_count_chars(t).alias("approx_tokens"),
        ts.whitespace_token_count(t).cast("bigint").alias("ws_tokens"),
        ts.bpe_ish_token_count(t).cast("bigint").alias("bpe_ish_tokens"),
    )


@query(
    "vocab_top_tokens",
    """
WITH tok AS (
  SELECT lower(unnest(regexp_extract_all(text, '[a-zA-Z]+'))) AS token
  FROM documents
),
counted AS (
  SELECT token, COUNT(*) AS n FROM tok GROUP BY token
),
ranked AS (
  SELECT token, n,
    ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM counted
)
SELECT CAST(rank AS BIGINT) AS rank, token, n FROM ranked WHERE rank <= 100
""",
)
def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 alphabetic tokens by frequency —
    the frequency table a tokenizer-training / stopword-derivation stage
    starts from. Deterministic tie order (count desc, token asc).

    Plan: explode tokens -> two-phase count (map-side partial combine, one
    shuffle on the token) -> distributed top-k via the paginate machinery
    (TakeOrderedAndProject: per-partition top-100 merged over only k rows —
    never a whole-vocabulary single-task sort). Token cardinality, not
    corpus size, bounds the aggregated state — safe at 100 TB for
    natural-language vocabularies."""
    from fireball_data_processing_spark.operators.windows import paginate

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z]+', 0)")
        ).alias("raw")
    ).select(F.lower(F.col("raw")).alias("token"))
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = paginate(counted, [("n", False)], "token", page=0, page_size=100)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("rank", "token", "n")
    )


@query(
    "doc_quality",
    """
WITH q AS (
  SELECT doc_id,
    length(text) AS n_chars,
    regexp_split_to_array(trim(text), '\\s+') AS words,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
  FROM documents
)
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(len(words) AS BIGINT) AS n_words,
  ROUND(CASE WHEN len(words) > 0 THEN
    list_sum(list_transform(words, w -> length(w)))::DOUBLE / len(words) END, 6)
    AS mean_word_len,
  ROUND(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars END, 6) AS punct_ratio,
  ROUND(CASE WHEN n_chars > 0 THEN n_alpha::DOUBLE / n_chars END, 6) AS alpha_ratio,
  ROUND(CASE WHEN len(words) > 0 THEN
    len(list_filter(words, w -> lower(w) IN
      ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE
    / len(words) END, 6) AS stopword_ratio
FROM q
""",
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (LLM-pipeline extension over the reference's
    corpus stats): length, word stats, punctuation/alpha/stopword ratios."""
    from fireball_data_processing_spark.functions.textstats import quality_features

    d = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    ratio_cols = ("mean_word_len", "punct_ratio", "alpha_ratio", "stopword_ratio")
    return d.select(
        "doc_id",
        *[
            (F.round(expr, 6) if name in ratio_cols else expr).alias(name)
            for name, expr in feats.items()
        ],
    )


@query(
    "doc_lang_scores",
    """
WITH w AS (
  SELECT doc_id, lang,
    regexp_split_to_array(lower(trim(text)), '\\s+') AS words
  FROM documents
)
SELECT doc_id, lang AS labeled_lang,
  len(list_filter(words, x -> x IN ('the','and','is','of'))) AS score_en,
  len(list_filter(words, x -> x IN ('el','la','que','de'))) AS score_es,
  len(list_filter(words, x -> x IN ('der','die','und','nicht'))) AS score_de,
  len(list_filter(words, x -> x IN ('le','la','et','les'))) AS score_fr
FROM w
""",
)
def q_doc_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID marker scores (n-gram-heuristic shape: score per
    language, argmax client-side or via greatest())."""
    from fireball_data_processing_spark.functions.textstats import lang_scores

    d = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[expr.alias(f"score_{lang}") for lang, expr in scores.items()],
    )


@query(
    "doc_fingerprints",
    """
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 over dedup-normalized text; F8-style
    hashing applied corpus-wide)."""
    from fireball_data_processing_spark.functions.textstats import content_fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", content_fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "exact_dedup_groups",
    """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
  MIN(doc_id) AS canonical_id,
  COUNT(*) AS n_docs
FROM documents
GROUP BY 1
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: group by content digest, keep canonical min id.
    At scale the 32-byte digest, never the raw text, is the shuffle key."""
    from fireball_data_processing_spark.operators.dedup import exact_dedup_groups

    d = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(d)


@query(
    "ingest_gate_new_docs",
    _CORPUS_HASH_CTE + """,
incoming AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
  FROM documents WHERE doc_id % 4 <> 0
)
SELECT i.content_hash,
  MIN(i.doc_id) AS first_doc_id,
  COUNT(*) AS n_arrivals
FROM incoming i
ANTI JOIN corpus c ON c.content_hash = i.content_hash
GROUP BY i.content_hash
""",
)
def q_ingest_gate_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming dedup ingest gate
    (streaming/dedup_stream.py): incoming docs anti-joined against the
    corpus hash index, then collapsed to one row per new content hash
    (first arrival + arrival count). Every micro-batch of the stream
    computes exactly this on its slice; the batch form lets the driver
    oracle-check the gate's semantics. Corpus/incoming are carved from the
    documents table by doc_id residue so the query is self-contained."""
    from fireball_data_processing_spark.streaming.dedup_stream import (
        content_hash,
        corpus_hash_index,
    )

    d = load_table(spark, sf_dir, "documents")
    index = corpus_hash_index(d.filter(F.col("doc_id") % 4 == 0))
    incoming = d.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id", content_hash().alias("content_hash")
    )
    fresh = incoming.join(index, "content_hash", "left_anti")
    return fresh.groupBy("content_hash").agg(
        F.min("doc_id").alias("first_doc_id"),
        F.count(F.lit(1)).alias("n_arrivals"),
    )


@query(
    "ingest_gate_near_new",
    _NEAR_HITS_CTE + """
SELECT d.doc_id FROM documents d
WHERE d.doc_id % 4 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM hits)
""",
)
def q_ingest_gate_near_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming NEAR-dup ingest gate
    (streaming/dedup_stream.py `near_new_documents`): incoming docs
    (doc_id % 4 != 0) whose MinHash signature shares no LSH band with the
    corpus partition (doc_id % 4 == 0). Exercises the per-row signature
    expression (`minhash_sig_expr` — no shuffle, stream-safe) and the
    band-partitioned index lookups; the stream runs the identical plan per
    micro-batch (stream/batch parity test in tests/test_streaming.py)."""
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_band_index,
        near_new_documents,
    )
    from fireball_data_processing_spark.operators.dedup import minhash_signature

    d = load_table(spark, sf_dir, "documents")
    idx = corpus_band_index(
        minhash_signature(d.filter(F.col("doc_id") % 4 == 0)), num_hashes=8,
        band_size=2,
    )
    return near_new_documents(
        d.filter(F.col("doc_id") % 4 != 0), idx
    ).select("doc_id")


# Gopher quality gate + (source, lang) totals shared by both capstone
# oracles: ``fresh`` (the docs past the dedup gate) is defined by the head.
_CAPSTONE_GOPHER_TAIL = """w AS (
  SELECT doc_id, source, lang, text,
    regexp_split_to_array(trim(text), '\\s+') AS words,
    string_split(text, chr(10)) AS lines
  FROM fresh
),
m AS (
  SELECT doc_id, source, lang,
    len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words) AS mwl,
    ((length(text) - length(replace(text, '#', '')))
     + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
      / len(words) AS sym,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
      / len(words) AS alpha,
    len(list_filter(words, x -> list_contains(
      ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
      AS stop_hits,
    len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ')
      OR starts_with(l, chr(8226))))::DOUBLE / len(lines) AS bul,
    len(list_filter(lines, l -> l LIKE '%...'))::DOUBLE / len(lines) AS ell
  FROM w
)
SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
  SUM(n_words)::BIGINT AS n_tokens
FROM m
WHERE n_words >= 50 AND n_words <= 100000
  AND mwl >= 3.0 AND mwl <= 10.0 AND sym <= 0.1 AND alpha >= 0.8
  AND stop_hits >= 2 AND bul <= 0.9 AND ell <= 0.3
GROUP BY source, lang
"""


def _ingest_capstone(
    spark: SparkSession,
    sf_dir: str,
    gate: str,
    build_index: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Shared body of the two streaming capstones: stage the incoming
    docs (doc_id % 4 != 0) as slice files, gate them against an index
    built from the corpus docs (doc_id % 4 == 0) by ``build_index``, run
    the stream, and return the merged final table.

    One workspace per (process, sf_dir, gate), wiped at call start, so
    repeated runs reuse one tree instead of accumulating staging copies.
    The wipe is safe with an earlier returned frame outstanding: the
    totals are localCheckpoint-materialized, so no returned frame ever
    lazily reads the tree."""
    import hashlib
    import os
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from fireball_data_processing_spark.streaming.capstone import (
        read_pipeline_totals,
        run_ingest_pipeline,
        stage_incoming_slices,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    incoming = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) != 0)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"fb_ingest_{gate}_capstone_{os.getpid()}_{tag}"
    )
    shutil.rmtree(base, ignore_errors=True)
    staging = f"{base}/staging"
    # The staging write and the index pin are independent Spark actions:
    # overlap them from two driver threads so the index build back-fills
    # executors the staging write's tail leaves idle. The pin itself is
    # the foreachBatch contract: without it every epoch would rebuild the
    # index from the corpus scan (the materialized index is tiny).
    with ThreadPoolExecutor(max_workers=2) as pool:
        staged = pool.submit(stage_incoming_slices, incoming, staging)
        index_f = pool.submit(lambda: build_index(corpus).localCheckpoint())
        staged.result()
        index = index_f.result()
    # Near gate: each staged slice is ONE small file and so one input
    # partition, while the per-row MinHash is the cost center (3x when
    # fanned to the core count). The caller knows its slices are small,
    # so the floor is a constructor flag, not a per-epoch probe.
    run_ingest_pipeline(
        spark, staging, incoming.schema, index,
        f"{base}/out", f"{base}/ckpt", gate=gate,
        min_parallelism=(
            spark.sparkContext.defaultParallelism if gate == "near" else None
        ),
    )
    # eager (source, lang)-grain materialization detaches the returned
    # frame from the workspace (the table is a handful of rows)
    return read_pipeline_totals(spark, f"{base}/out").localCheckpoint()


@query(
    "streaming_ingest_pipeline",
    _CORPUS_HASH_CTE + """,
inc AS (
  SELECT doc_id, source, lang, text,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
  FROM documents WHERE doc_id % 4 <> 0
),
fresh AS (
  SELECT i.* FROM inc i ANTI JOIN corpus c ON c.content_hash = i.content_hash
),
""" + _CAPSTONE_GOPHER_TAIL,
)
def q_streaming_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming capstone, end to end and oracle-checked
    (streaming/capstone.py): documents arriving as parquet slice files
    run through a REAL Structured Streaming job — exact-dup ingest gate
    (size-aware anti-join vs the frozen corpus hash index) → Gopher
    quality gate → per-(source, lang) partial aggregation → exactly-once
    epoch-partitioned sink — and the returned frame is the merged final
    table. Because replayed epochs overwrite their own partition and the
    partials are additive, the final table is a pure function of the
    input set, independent of micro-batch boundaries (restart/replay
    pinned in tests/test_capstone_stream.py) — which is exactly what
    lets ONE batch SQL statement oracle the whole pipeline."""
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_hash_index,
    )

    return _ingest_capstone(spark, sf_dir, "exact", corpus_hash_index)


@query(
    "streaming_ingest_near_pipeline",
    _NEAR_HITS_CTE + """,
fresh AS (
  SELECT doc_id, source, lang, text FROM documents d
  WHERE d.doc_id % 4 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM hits)
),
""" + _CAPSTONE_GOPHER_TAIL,
)
def q_streaming_ingest_near_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming capstone with the TRUE-corpus-scale gate: the exact
    hash gate swapped for the NEAR-dup gate — per-row MinHash signature →
    LSH band keys → one stateless lookup per band against the frozen
    corpus band index (streaming/dedup_stream.py `near_new_documents`
    over `corpus_band_index`). A doc near-duplicating ANY corpus doc under
    the banding scheme is rejected, not just byte-identical repeats.
    Every gate stage is stateless per micro-batch, so the final table
    stays a pure function of the input set (restart/slicing tests
    parameterize over both gates in tests/test_capstone_stream.py) —
    which is what lets ONE batch SQL statement oracle the LIVE stream's
    output."""
    from fireball_data_processing_spark.operators.dedup import minhash_signature
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_band_index,
    )

    return _ingest_capstone(
        spark, sf_dir, "near",
        lambda corpus: corpus_band_index(
            minhash_signature(corpus), num_hashes=8, band_size=2
        ),
    )


@query(
    "lsh_band_hit_rates",
    _MINHASH_CTE + ",\n" + _LSH_BANDS_CTE + """,
inc AS (SELECT * FROM bands WHERE doc_id % 4 <> 0),
cor AS (
  SELECT DISTINCT band_idx, band_key FROM bands WHERE doc_id % 4 = 0
)
SELECT i.band_idx::BIGINT AS band_idx,
  COUNT(c.band_key)::BIGINT AS n_hit_docs,
  COUNT(*)::BIGINT AS n_banded_docs,
  ROUND(COUNT(c.band_key)::DOUBLE / COUNT(*), 6) AS hit_rate
FROM inc i LEFT JOIN cor c
  ON c.band_idx = i.band_idx AND c.band_key = i.band_key
GROUP BY i.band_idx
""",
)
def q_lsh_band_hit_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band hit-rate diagnostic of the streaming NEAR-dup gate:
    for each LSH band, what fraction of incoming docs collides
    with the frozen corpus band index — the ops metric that tunes the
    banding scheme (bands too wide -> hit rates collapse and near-dups
    leak through; too narrow -> rates saturate and the gate over-
    rejects). Same signature/banding parameters as the capstone gate
    (`corpus_band_index(minhash_signature(.), num_hashes=8,
    band_size=2)`), so this table describes the production gate, not a
    replica. Plan: the incoming band table is one explode over per-doc
    signatures, consumed EXACTLY ONCE — the index probe is a LEFT
    equi-join (the distinct index matches each band row at most once,
    so flags, never row multiplication; every signed doc emits every
    band exactly once, so COUNT(*) per band IS the signed-doc total and
    COUNT(hit) the collision count) feeding one band-grain aggregate
    (4 rows). Bucket-confined, no all-pairs anywhere; the join is
    unhinted — the index is occupied-bucket-sized and AQE picks
    broadcast vs shuffle by its real size."""
    from fireball_data_processing_spark.operators.dedup import (
        band_structs,
        minhash_signature,
    )
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_band_index,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    incoming = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) != 0)
    bands_i = (
        minhash_signature(incoming)
        .select("doc_id", F.explode(band_structs(8, 2)).alias("b"))
        .select("doc_id", F.col("b.band_idx"), F.col("b.band_key"))
    )
    idx = corpus_band_index(minhash_signature(corpus), num_hashes=8, band_size=2)
    # index is distinct on (band_idx, band_key): each inner-join row is
    # one (doc, band) collision, so count(*) IS distinct-doc count
    flagged = bands_i.join(
        idx.withColumn("__hit", F.lit(True)), ["band_idx", "band_key"], "left"
    )
    n_hit = F.count("__hit")  # count() skips the nulls of non-matches
    n_banded = F.count(F.lit(1))
    return flagged.groupBy("band_idx").agg(
        n_hit.cast("bigint").alias("n_hit_docs"),
        n_banded.cast("bigint").alias("n_banded_docs"),
        _r6(n_hit.cast("double") / n_banded).alias("hit_rate"),
    ).select(
        F.col("band_idx").cast("bigint").alias("band_idx"),
        "n_hit_docs", "n_banded_docs", "hit_rate",
    )


@query(
    "benchmark_contamination",
    _SHINGLES_CTE + """
SELECT d.doc_id, b.doc_id AS bench_id, COUNT(*)::BIGINT AS n_shared
FROM sh d JOIN sh b ON d.shingle = b.shingle
WHERE d.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
GROUP BY d.doc_id, b.doc_id
HAVING COUNT(*) >= 2
""",
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (pretraining hygiene): training docs
    (doc_id % 10 != 0) sharing >= 2 distinct 3-word shingles with any
    "benchmark" doc (doc_id % 10 == 0), with the shared count. Real runs
    use k=8..13-word n-grams against the actual eval sets; k=3 here so the
    synthetic corpus produces verifiable overlap. Contact is confined to
    literally-shared n-grams (shingle equi-join), never docs x benchmark."""
    from fireball_data_processing_spark.operators.dedup import ngram_overlap

    d = load_table(spark, sf_dir, "documents")
    return ngram_overlap(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        k=3,
        min_overlap=2,
    ).select("doc_id", "bench_id", F.col("n_shared").cast("bigint").alias("n_shared"))


@query(
    "doc_unigram_logprob",
    _WORDS_CTE + ",\n" + _UNIGRAM_CTE + """
SELECT doc_id,
  ROUND(AVG(-LOG2(v.c / t.total)), 6) AS avg_neg_log2_prob,
  COUNT(*)::BIGINT AS n_tokens
FROM tok JOIN vocab v USING (token) CROSS JOIN tot t
GROUP BY doc_id
""",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: per-doc cross-entropy under the
    corpus's own unigram distribution (high = garbage candidate, ultra-low
    = repetitive). One token explode feeds both the vocabulary and the
    scoring join; the grand total broadcasts as one row."""
    from fireball_data_processing_spark.functions.textstats import unigram_logprob

    d = load_table(spark, sf_dir, "documents")
    return unigram_logprob(d)


@query(
    "fb_pii_redact",
    f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.PII_ROWS, FX.PII_SCHEMA)})
SELECT id,
  regexp_replace(regexp_replace(regexp_replace(content,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
    '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '[PHONE]', 'g'),
    '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[IP]', 'g') AS redacted,
  len(regexp_extract_all(content,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::BIGINT AS n_email,
  len(regexp_extract_all(content,
    '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b'))::BIGINT AS n_phone,
  len(regexp_extract_all(content,
    '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))::BIGINT AS n_ip
FROM t
""",
)
def q_fb_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub stage (pretraining hygiene; generalizes the reference's
    author-id anonymization, scripts/anonymize.py, to free-text PII):
    typed placeholders for emails/phones/IPv4s plus per-kind counts, all
    chained JVM regexes — no UDF. Fixture pins pattern order, the
    ipv4-shaped version string, empty and null content."""
    from fireball_data_processing_spark.functions.pii import pii_counts, redact_pii

    df = FX.spark_df(spark, FX.PII_ROWS, FX.PII_SCHEMA)
    counts = pii_counts(F.col("content"))
    return df.select(
        "id",
        redact_pii(F.col("content")).alias("redacted"),
        *[col.alias(name) for name, col in counts.items()],
    )


@query(
    "doc_repetition",
    _WORDS_CTE + """,
grams AS (
  SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS g
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
counts AS (
  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
),
stats AS (
  SELECT doc_id, SUM(c) AS total, COUNT(*) AS n_distinct, MAX(c) AS top
  FROM counts GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(s.total, 0)::BIGINT AS n_ngrams,
  COALESCE(ROUND(1.0 - s.n_distinct::DOUBLE / s.total::DOUBLE, 6), 0.0) AS dup_ngram_frac,
  COALESCE(ROUND(s.top::DOUBLE / s.total::DOUBLE, 6), 0.0) AS top_ngram_frac
FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals over word bigrams
    (duplicate-mass and top-bigram share) — per-row array math, zero
    shuffles (the oracle's explode+groupBy formulation is the same
    numbers computed the shuffling way)."""
    from fireball_data_processing_spark.functions.textstats import (
        repetition_features,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = repetition_features(F.col("text"), n=2)
    return d.select("doc_id", *[col.alias(name) for name, col in feats.items()])


@query(
    "mixture_sample_counts",
    """
SELECT event_type, COUNT(*)::BIGINT AS n_kept
FROM events
WHERE ('0x' || substr(md5('mix' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0
      < CASE event_type WHEN 'purchase' THEN 1.0 WHEN 'error' THEN 0.5
                        WHEN 'view' THEN 0.25 ELSE 0.05 END
GROUP BY event_type
""",
)
def q_mixture_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture construction: deterministic per-bucket keep rates via
    the md5 hash-rank primitive (stable under repartitioning/retries, no
    RNG state). Per-type surviving counts verify every bucket's rate."""
    from fireball_data_processing_spark.operators.sampling import mixture_sample

    ev = load_table(spark, sf_dir, "events")
    kept = mixture_sample(
        ev,
        F.col("event_type"),
        {"purchase": 1.0, "error": 0.5, "view": 0.25},
        F.col("event_id"),
        default_rate=0.05,
        salt="mix",
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "doc_chunks",
    _WORDS_CTE + """
SELECT doc_id,
  (st // 24)::BIGINT AS chunk_idx,
  array_to_string(list_slice(w, st + 1, st + 32), ' ') AS chunk_text,
  LEAST(32, len(w) - st)::BIGINT AS n_chunk_tokens
FROM words, UNNEST(generate_series(0, greatest(len(w) - 1, 0), 24)) AS t(st)
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (embedding/RAG prep): 32-word chunks with
    8-word overlap (stride 24). Per-row array slicing + one explode — no
    shuffle, no UDF."""
    from fireball_data_processing_spark.functions.textstats import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=32, overlap=8)


@query(
    "doc_clean_flags",
    """
WITH segs AS (
  SELECT doc_id, text,
    list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                s -> s <> '') AS segments
  FROM documents
),
kept AS (
  SELECT doc_id, text, segments,
    list_filter(segments,
                s -> len(string_split_regex(s, '\\s+')) >= 50) AS keep
  FROM segs
)
SELECT doc_id,
  len(segments)::BIGINT AS n_segments,
  len(keep)::BIGINT AS n_kept_segments,
  COALESCE(array_to_string(keep, chr(10)), '') AS kept_text,
  (contains(lower(text), 'lorem ipsum')
   OR contains(lower(text), 'slow scan')) AS has_bad_phrase,
  contains(text, '{') AS has_brace
FROM kept
""",
)
def q_doc_clean_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus cleaning: per-segment word-count gate (min 50 words;
    terminal-punctuation rule off — the synthetic corpus has none) plus
    document-level bad-phrase and brace flags. All per-row array math and
    substring checks — zero shuffles, filter-ready output."""
    from fireball_data_processing_spark.functions.clean import (
        clean_segments,
        doc_flags,
    )

    d = load_table(spark, sf_dir, "documents")
    seg = clean_segments(
        F.col("text"), min_words=50, require_terminal_punct=False
    )
    flags = doc_flags(F.col("text"), bad_phrases=("lorem ipsum", "slow scan"))
    return d.select(
        "doc_id",
        *[col.alias(name) for name, col in seg.items()],
        *[col.alias(name) for name, col in flags.items()],
    )


_GOPHER_ORACLE = _GOPHER_METRICS_CTE + """
SELECT doc_id,
  n_words::BIGINT AS n_words,
  ROUND(mean_wl, 6) AS mean_word_len,
  ROUND(symbol_ratio, 6) AS symbol_word_ratio,
  ROUND(alpha_ratio, 6) AS alpha_word_ratio,
  stop_hits::BIGINT AS stop_hits,
  ROUND(bullet_ratio, 6) AS bullet_ratio,
  ROUND(ellipsis_ratio, 6) AS ellipsis_end_ratio,
  (n_words >= 50 AND n_words <= 100000) AS ok_words,
  (mean_wl >= 3.0 AND mean_wl <= 10.0) AS ok_mean_word_len,
  (symbol_ratio <= 0.1) AS ok_symbols,
  (alpha_ratio >= 0.8) AS ok_alpha_words,
  (stop_hits >= 2) AS ok_stop_hits,
  (bullet_ratio <= 0.9) AS ok_bullets,
  (ellipsis_ratio <= 0.3) AS ok_ellipsis_ends,
  ((n_words >= 50 AND n_words <= 100000)
   AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
   AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8 AND stop_hits >= 2
   AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3) AS passes_gopher
FROM m
"""


@query("gopher_quality_gate", _GOPHER_ORACLE)
def q_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality gate (Rae et al. 2021 §A1.1 — the
    rule set RefinedWeb/Dolma/FineWeb reuse): word-count + mean-word-
    length bounds, symbol-to-word ratio, alphabetic-word fraction,
    stop-word minimum, bullet-start / ellipsis-end line fractions, and
    the composed pass verdict. Complements `doc_quality` (raw feature
    ratios) and `doc_clean_flags` (C4 segment rules) with the named
    gate a pretraining pipeline actually filters on. Pure per-row
    expressions — zero shuffles; at 100 TB this is a scan + filter."""
    from fireball_data_processing_spark.functions.textstats import gopher_rules

    d = load_table(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    return d.select("doc_id", *[col.alias(name) for name, col in rules.items()])


@query(
    "embedding_quantization",
    """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e, list_min(e) AS vmin, list_max(e) AS vmax,
         (list_max(e) - list_min(e)) / 255.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, e, vmin, vmax, scale,
    list_transform(e,
      x -> (CASE WHEN scale > 0 THEN round((x - vmin) / scale, 0)
                 ELSE 0 END)::INT) AS codes
  FROM s
)
SELECT vec_id,
  len(codes)::BIGINT AS n_dims,
  list_sum(codes)::BIGINT AS code_sum,
  list_min(codes)::INT AS code_min,
  list_max(codes)::INT AS code_max,
  ROUND(vmin, 6) AS vmin_r,
  ROUND(vmax, 6) AS vmax_r,
  ROUND(list_sum(list_transform(e,
          x -> pow(x - (vmin + (CASE WHEN scale > 0
                                     THEN round((x - vmin) / scale, 0)
                                     ELSE 0 END) * scale), 2)))
        / len(e), 6) AS mse_r
FROM q
""",
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding table (the ANN index
    memory-compression path): per-vector 0..255 codes with min/max range,
    plus reconstruction-error audit. Per-row transform/aggregate array
    math in whole-stage codegen — zero shuffles; double-precision
    arithmetic end-to-end so codes hash-match any engine."""
    from fireball_data_processing_spark.operators.similarity import (
        quantize_embedding,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qz = quantize_embedding(F.col("embedding"))
    return e.select(
        "vec_id",
        F.size(qz["codes"]).cast("bigint").alias("n_dims"),
        F.aggregate(
            qz["codes"], F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
        ).alias("code_sum"),
        F.array_min(qz["codes"]).alias("code_min"),
        F.array_max(qz["codes"]).alias("code_max"),
        F.round(qz["vmin"], 6).alias("vmin_r"),
        F.round(qz["vmax"], 6).alias("vmax_r"),
        F.round(qz["mse"], 6).alias("mse_r"),
    )


_SEMANTIC_DEDUP_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
),
b AS (
  SELECT vec_id, e,
    (CASE WHEN e[1] >= e[9]  THEN 1   ELSE 0 END)
  + (CASE WHEN e[2] >= e[10] THEN 2   ELSE 0 END)
  + (CASE WHEN e[3] >= e[11] THEN 4   ELSE 0 END)
  + (CASE WHEN e[4] >= e[12] THEN 8   ELSE 0 END)
  + (CASE WHEN e[5] >= e[13] THEN 16  ELSE 0 END)
  + (CASE WHEN e[6] >= e[14] THEN 32  ELSE 0 END)
  + (CASE WHEN e[7] >= e[15] THEN 64  ELSE 0 END)
  + (CASE WHEN e[8] >= e[16] THEN 128 ELSE 0 END) AS bucket
  FROM v
),
reps AS (
  SELECT bucket, min(vec_id) AS rep_id, arg_min(e, vec_id) AS rep_vec
  FROM b GROUP BY bucket
),
scored AS (
  SELECT b.vec_id, b.bucket, r.rep_id,
    ROUND(
      list_sum(list_transform(generate_series(1, 64),
               i -> b.e[i] * r.rep_vec[i]))
      / (sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> b.e[i] * b.e[i])))
       * sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> r.rep_vec[i] * r.rep_vec[i])))), 6) AS cos_to_rep
  FROM b JOIN reps r USING (bucket)
)
SELECT vec_id, bucket,
  CASE WHEN vec_id = rep_id THEN NULL ELSE cos_to_rep END AS cos_to_rep
FROM scored
WHERE vec_id = rep_id OR cos_to_rep <= 0.3
"""


@query("semantic_dedup_survivors", _SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table: fixed
    hyperplane buckets (sign_bucket, engine-deterministic), min-id
    representative per bucket via window min/min_by on ONE hash
    exchange, survivors = reps plus members whose cosine to the rep is
    <= tau. The rep's cosine is reported null (its norm may be 0).
    tau=0.3 here (operator default 0.9): the synthetic embeddings are
    near-isotropic (max cos-to-rep ~0.37 at sf0.01), so a production
    tau would never drop a row and leave the drop path unexercised."""
    from fireball_data_processing_spark.operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(e, tau=0.3)


@query(
    "duplicate_substring_spans",
    _DUP_SPANS_CTE + """
SELECT doc_id,
  MIN(pos)::BIGINT AS span_start,
  (MAX(pos) + 8)::BIGINT AS span_end,
  (MAX(pos) + 8 - MIN(pos))::BIGINT AS span_words
FROM grp GROUP BY doc_id, island
""",
)
def q_duplicate_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style dedup: maximal word spans covered by 8-grams
    shared with another document (cut the span, keep the document).
    Gram hashes are per-row array math; candidates are bounded by
    genuinely-duplicated grams; islands merge on one doc-key exchange."""
    from fireball_data_processing_spark.operators.dedup import duplicate_spans

    d = load_table(spark, sf_dir, "documents")
    return duplicate_spans(d, k=8, min_docs=2)


@query(
    "span_scrubbed_docs",
    _DUP_SPANS_CTE + """,
islands AS (
  SELECT doc_id, [MIN(pos), MAX(pos) + 8] AS r
  FROM grp GROUP BY doc_id, island
),
spans AS (SELECT doc_id, list(r) AS sp FROM islands GROUP BY doc_id),
cut AS (
  SELECT w.doc_id, w.w,
    CASE WHEN s.sp IS NULL THEN w.w
         ELSE list_filter(w.w, (x, i) -> NOT len(list_filter(s.sp,
              r -> i - 1 >= r[1] AND i - 1 < r[2])) > 0)
    END AS kept
  FROM words w LEFT JOIN spans s USING (doc_id)
)
SELECT doc_id,
  md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_hash,
  len(w)::BIGINT AS n_words,
  (len(w) - len(kept))::BIGINT AS n_removed_words
FROM cut
""",
)
def q_span_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of ExactSubstr dedup: CUT the duplicated spans out
    of each document and keep the unique remainder (Lee et al.'s removal
    semantics — `remove_duplicate_spans`). Spans collapse to a per-doc
    struct list and LEFT-join back on the doc key; the cut itself is one
    indexed filter HOF over the materialized word array, so the only
    exchanges are the span pipeline's own. Hashing the cleaned text
    keeps the attestation value-exact without shipping full documents."""
    from fireball_data_processing_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    d = load_table(spark, sf_dir, "documents")
    spans = duplicate_spans(d, k=8, min_docs=2)
    out = remove_duplicate_spans(d, spans)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_hash"),
        "n_words",
        "n_removed_words",
    )


@query(
    "doc_unicode_nfc",
    """
SELECT doc_id,
  length(text || ' cafe' || chr(769) || chr(7) || ' fin') AS len_raw,
  length(nfc_normalize(regexp_replace(
      text || ' cafe' || chr(769) || chr(7) || ' fin',
      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]', '', 'g'))) AS len_clean,
  md5(nfc_normalize(regexp_replace(
      text || ' cafe' || chr(769) || chr(7) || ' fin',
      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]', '', 'g'))) AS clean_hash
FROM documents
""",
)
def q_doc_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene at the head of the cleaning pipeline: strip C0/C1
    control characters (JVM regex) then NFC-normalize (Arrow-batched
    pandas UDF — Spark has no normalization builtin; the oracle is
    DuckDB's nfc_normalize, so the check proves the UDF implements the
    same UAX#15 composition). The synthetic corpus is ASCII, so a
    decomposed 'e'+COMBINING-ACUTE and a BEL byte are appended to every
    row to force both rules to fire; hashes are value-exact only if
    composition and stripping agree byte-for-byte cross-engine."""
    from fireball_data_processing_spark.functions.clean import (
        normalize_unicode,
        strip_control_chars,
    )

    d = load_table(spark, sf_dir, "documents")
    # decomposed e+U+0301 plus a BEL control byte: forces both rules
    injected = F.concat(F.col("text"), F.lit(" cafe\u0301\u0007 fin"))
    pre = d.select("doc_id", injected.alias("__raw"))
    clean = normalize_unicode("NFC")(strip_control_chars(F.col("__raw")))
    sized = pre.select(
        "doc_id",
        F.length("__raw").cast("bigint").alias("len_raw"),
        clean.alias("__clean"),
    )
    return sized.select(
        "doc_id",
        "len_raw",
        F.length("__clean").cast("bigint").alias("len_clean"),
        F.md5("__clean").alias("clean_hash"),
    )


@query(
    "approx_distinct_rollup",
    """
SELECT event_type,
  COUNT(DISTINCT user_id)::BIGINT AS n_exact,
  TRUE AS direct_ok,
  TRUE AS merged_ok
FROM events GROUP BY event_type
""",
)
def q_approx_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-user counts per event type, attested two ways against
    the exact count: sketched directly at the type grain (`direct_ok`),
    and sketched per (type, day) then MERGED up without rescanning
    (`merged_ok`) — the mergeable-rollup property that keeps distinct
    dashboards one-scan at 100 TB. Both estimates must land within 5% of
    exact (at this cardinality the sketch is in sparse mode and exact,
    but the flags assert the tolerance, not equality — the merged path
    legitimately switches estimators after union)."""
    from fireball_data_processing_spark.operators.sketches import (
        hll_distinct,
        hll_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts div 86400000000000").alias("day")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    direct = hll_distinct(ev, ["event_type"], "user_id")
    merged = hll_rollup(
        ev.withColumn("day", day), ["event_type", "day"], ["event_type"],
        "user_id",
    )
    tol = F.col("n_exact") * 0.05
    return (
        exact.join(F.broadcast(direct), "event_type")
        .join(F.broadcast(merged), "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact")) <= tol).alias(
                "direct_ok"
            ),
            (F.abs(F.col("n_merged") - F.col("n_exact")) <= tol).alias(
                "merged_ok"
            ),
        )
    )


@query(
    "cms_heavy_hitters",
    """
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS v FROM documents
),
exact AS (
  SELECT v AS value, COUNT(*)::BIGINT AS n_exact,
    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, v ASC)::BIGINT AS rank
  FROM toks GROUP BY v
),
pos AS (
  SELECT v, i AS row,
    ('0x' || substr(md5(v || '#' || i), 1, 15))::BIGINT % 2048 AS pos
  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i)
),
counters AS (SELECT row, pos, COUNT(*)::BIGINT AS cnt FROM pos GROUP BY row, pos),
total AS (SELECT SUM(cnt)::BIGINT AS n_total FROM counters WHERE row = 0),
probe AS (
  SELECT e.value, e.n_exact, e.rank, i AS row,
    ('0x' || substr(md5(e.value || '#' || i), 1, 15))::BIGINT % 2048 AS pos
  FROM exact e CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i)
  WHERE e.rank <= 20
),
est AS (
  SELECT p.value, p.n_exact, p.rank, MIN(COALESCE(c.cnt, 0)) AS cms_est
  FROM probe p LEFT JOIN counters c USING (row, pos)
  GROUP BY p.value, p.n_exact, p.rank
)
SELECT value, n_exact, rank, cms_est,
  cms_est >= n_exact AS cms_lower_ok,
  cms_est <= n_exact + CAST(FLOOR(2.718281828 / 2048 * n_total) AS BIGINT)
    AS cms_upper_ok
FROM est, total
""",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over document tokens: exact top-20
    via the two-phase distributed count, each candidate probed against a
    depth-5 x width-2048 CMS counter table built in one pass. The md5
    position hashing is the repo's portable random primitive, so the
    oracle rebuilds the IDENTICAL sketch in SQL and the estimates match
    cell-exact — plus the lower/upper CMS error-bound flags."""
    from fireball_data_processing_spark.operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    return heavy_hitters(toks, "tok", k=20, depth=5, width=2048)


@query(
    "bloom_filtered_join",
    """
SELECT p_brand,
  COUNT(*) AS n_items,
  ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size = 1
GROUP BY p_brand
""",
)
def q_bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side bloom pre-filter before a dimension join: a bitset built
    over the filtered part keys drops non-matching lineitem rows at the
    scan (pure-expression probe, whole-stage codegen) BEFORE any join
    machinery. No false negatives, so the result equals the plain join —
    the oracle IS the plain join. Locally the join is broadcast anyway;
    at 100 TB with a build side too big to broadcast, this is the
    standard runtime-filter trick that cuts the fact shuffle to matches
    plus the bloom's false-positive residue."""
    from fireball_data_processing_spark.operators.sketches import bloom_prejoin

    li = load_table(spark, sf_dir, "lineitem")
    pt = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select("p_partkey", "p_brand")
    )
    pre = bloom_prejoin(li, pt, "l_partkey", "p_partkey")
    return (
        pre.join(pt, pre["l_partkey"] == pt["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "purchase_view_interval_join",
    """
WITH p AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
  FROM events WHERE event_type = 'view'
)
SELECT p.user_id,
  p.event_id AS anchor_id,
  v.event_id AS match_id,
  p.us - v.us AS gap_micros
FROM p JOIN v
  ON p.user_id = v.user_id
 AND v.us >= p.us - 3600000000
 AND v.us <= p.us
""",
)
def q_purchase_view_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: ALL views within one hour before each
    purchase, per user (vs `nearest_purchase`'s one-match as-of form).
    Equality key + bounded range — exactly the shape Spark's stream-stream
    join executes with watermark-bounded state; this batch twin is the
    oracle for `streaming/join_stream.py`. The range rides the user_id
    hash join (one shuffle per side, no cross product)."""
    ev = load_table(spark, sf_dir, "events")
    gap_us = 60 * 60 * 1_000_000
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("anchor_id"),
        F.expr("ts div 1000").alias("p_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("match_id"),
        F.expr("ts div 1000").alias("v_us"),
    )
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_us") >= F.col("p_us") - F.lit(gap_us))
            & (F.col("v_us") <= F.col("p_us")),
        )
        .select(
            "user_id",
            "anchor_id",
            "match_id",
            (F.col("p_us") - F.col("v_us")).alias("gap_micros"),
        )
    )


@query(
    "approx_percentile_check",
    """
SELECT event_type,
  COUNT(*)::BIGINT AS n,
  TRUE AS p50_rank_ok,
  TRUE AS p95_rank_ok
FROM events GROUP BY event_type
""",
)
def q_approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for percentiles (`value_percentiles` is the exact
    twin): per-type approx_percentile (mergeable Greenwald-Khanna-style
    summary — partial sketches combine map-side, unlike exact holistic
    percentiles) attested by its actual contract, RANK error: the
    fraction of values at or below the sketch's p-th percentile must sit
    within ``p ± (1/accuracy + slack)``. Value-difference checks would
    be wrong — the sketch returns a real element, not an interpolation.
    One aggregation for the sketches, one conditional re-aggregation for
    the ranks (count <= quantile), joined broadcast."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    acc = 1000
    q = ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("q50"),
        F.expr(f"approx_percentile(value, 0.95, {acc})").alias("q95"),
    )
    ranked = (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("value") < F.col("q50"), 1).otherwise(0)).alias(
                "lt50"
            ),
            F.sum(F.when(F.col("value") <= F.col("q50"), 1).otherwise(0)).alias(
                "le50"
            ),
            F.sum(F.when(F.col("value") < F.col("q95"), 1).otherwise(0)).alias(
                "lt95"
            ),
            F.sum(F.when(F.col("value") <= F.col("q95"), 1).otherwise(0)).alias(
                "le95"
            ),
        )
    )
    # tie-robust straddle form: the returned element's rank RANGE
    # [count(<q), count(<=q)] must straddle the target within tolerance —
    # a one-sided count(<=q) bound would flip on tied medians while the
    # oracle hardcodes TRUE.
    tol = 1.0 / acc + 0.01
    ok = lambda lt, le, p: (F.col(lt) / F.col("n") <= p + tol) & (
        F.col(le) / F.col("n") >= p - tol
    )
    return ranked.select(
        "event_type",
        "n",
        ok("lt50", "le50", 0.5).alias("p50_rank_ok"),
        ok("lt95", "le95", 0.95).alias("p95_rank_ok"),
    )


@query(
    "doc_packing",
    """
WITH sized AS (
  SELECT source, doc_id,
    CASE WHEN trim(text) = '' THEN 0
      ELSE len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))
    END::BIGINT AS n
  FROM documents
),
cum AS (
  SELECT source, doc_id, n,
    SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS e
  FROM sized WHERE n > 0
),
spans AS (SELECT source, doc_id, e - n AS s, e FROM cum),
bins AS (
  SELECT source, doc_id, s, e, b.bin_idx
  FROM spans, UNNEST(generate_series(s // 256, (e - 1) // 256)) AS b(bin_idx)
)
SELECT source, doc_id, bin_idx,
  GREATEST(bin_idx * 256 - s, 0) AS tok_start,
  LEAST(bin_idx * 256 + 256, e) - s AS tok_end,
  GREATEST(s - bin_idx * 256, 0) AS offset_in_bin
FROM bins
""",
)
def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing of the corpus into 256-token
    bins per source shard — the LM-pretraining batch layout. The
    seemingly-sequential packing is a window prefix sum plus integer
    math (one shuffle on the shard key), so it distributes; every bin
    except a shard's last is exactly full."""
    from fireball_data_processing_spark.operators.packing import (
        pack_sequences,
        token_count_col,
    )

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        d,
        max_tokens=256,
        shard_col="source",
        order_col="doc_id",
        n_tokens=token_count_col(F.col("text")),
    )


def _per_source_count(df: DataFrame, name: str) -> DataFrame:
    """``(source, name)``: rows per source of one corpus-pipeline stage."""
    return df.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias(name)
    )


def _per_source_tokens(df: DataFrame, name: str) -> DataFrame:
    """``(source, name, total_tokens)``: rows and ``n_tokens`` per source
    of one corpus-pipeline stage."""
    return df.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias(name),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def _per_source_bins(packed: DataFrame) -> DataFrame:
    """``(source, n_bins)``: the packed bins each source fills."""
    return packed.groupBy("source").agg(
        F.countDistinct("bin_idx").cast("bigint").alias("n_bins")
    )


@query(
    "training_corpus_summary",
    _CLEANED_CTE + ",\n" + _DEDUPED_CTE + ",\n" + _QUALITY_CTE + """
SELECT n.source,
  n.n_cleaned,
  d.n_deduped,
  q.n_quality,
  q.total_tokens,
  (q.total_tokens + 255) // 256 AS n_bins
FROM (SELECT source, COUNT(*)::BIGINT AS n_cleaned FROM nonempty GROUP BY source) n
JOIN (SELECT source, COUNT(*)::BIGINT AS n_deduped FROM deduped GROUP BY source) d USING (source)
JOIN (SELECT source, COUNT(*)::BIGINT AS n_quality,
             SUM(n_tokens)::BIGINT AS total_tokens
      FROM quality GROUP BY source) q USING (source)
""",
)
def q_training_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus pipeline (clean -> exact dedup -> quality
    band -> packing) audited per source: document counts after each
    stage, total surviving tokens, and the packed bin count. The Spark
    side counts bins from the ACTUAL packed manifest while the oracle
    computes ceil(tokens/256) — equal only if packing is dense, so the
    attestation covers the pipeline counts AND the packing invariant."""
    from fireball_data_processing_spark.plans.corpus_pipeline import (
        build_training_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    stages = build_training_corpus(d)
    cleaned = _per_source_count(stages["cleaned"], "n_cleaned")
    deduped = _per_source_count(stages["deduped"], "n_deduped")
    quality = _per_source_tokens(stages["quality"], "n_quality")
    bins = _per_source_bins(stages["packed"])
    return (
        cleaned.join(deduped, "source")
        .join(quality, "source")
        .join(bins, "source")
        .select(
            "source", "n_cleaned", "n_deduped", "n_quality",
            "total_tokens", "n_bins",
        )
    )


@query(
    "doc_truncate_preview",
    """
SELECT doc_id,
  array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ') AS preview,
  len(string_split(text, ' ')) AS word_count
FROM documents
""",
)
def q_doc_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 word truncation + F6 ' '-split word count (reference
    distill3b_ic_classifier_gpt.py:44-45, heuristics/ratio.py:24)."""
    from fireball_data_processing_spark.functions.text import truncate_words, word_count

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        truncate_words(F.col("text"), 20).alias("preview"),
        word_count(F.col("text")).cast("bigint").alias("word_count"),
    )


# =====================================================================
# Near-duplicate detection: MinHash + LSH + Jaccard, SimHash
# =====================================================================


@query("minhash_signatures", _MINHASH_CTE + "\nSELECT * FROM sig")
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hash functions, 3-word shingles): explode
    shingles -> one grouped aggregation with 8 min() exprs. md5-hex min is
    engine-portable."""
    from fireball_data_processing_spark.operators.dedup import minhash_signature

    d = load_table(spark, sf_dir, "documents")
    return minhash_signature(d, num_hashes=8, shingle_k=3)


def _lsh_pairs(d: DataFrame) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) of the documents ``d``: MinHash
    with 8 hashes over 3-word shingles, then 4 bands of 2 — the scheme
    ``_LSH_PAIRS_CTE`` replays."""
    from fireball_data_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    sigs = minhash_signature(d, num_hashes=8, shingle_k=3)
    return lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)


def _lsh_components(d: DataFrame) -> DataFrame:
    """(vertex, component) over ``_lsh_pairs(d)``: iterative min-label
    propagation, which ``_LSH_CLOSURE_CTE`` closes with a recursive CTE."""
    from fireball_data_processing_spark.operators.dedup import connected_components

    return connected_components(_lsh_pairs(d))


def _lsh_jaccard_pairs(d: DataFrame) -> DataFrame:
    """``_lsh_pairs(d)`` with their exact shingle Jaccard. Signatures and
    shingle sets come out of ONE grouped pass over one scan
    (with_shingles=True), and that pass is PERSISTED: without it the three
    downstream consumers (both sides of the band self-join, the Jaccard
    shingle lookups) each re-execute the fat subtree — broadcast stages
    get no exchange reuse — which profiled 2x slower at sf0.1. The cache
    is the in-memory analog of ``build_minhash_index`` (the parquet-backed
    form for corpora that outlive one job); it is invocation-scoped and
    bounded by the signature+shingle table size."""
    from fireball_data_processing_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signature,
    )

    sigs = minhash_signature(
        d, num_hashes=8, shingle_k=3, with_shingles=True
    ).persist()
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    sh = sigs.select(F.col("doc_id"), F.col("__sh").alias("sh"))
    return jaccard_pairs(d, pairs, shingle_k=3, shingle_sets=sh)


@query(
    "near_dup_clusters",
    _LSH_CLOSURE_CTE + """
SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id FROM reach GROUP BY a
""",
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection: LSH candidate pairs chain transitively (A~B,
    B~C), so dedup keeps ONE doc per connected component, not per pair.
    Components via iterative min-label propagation (the oracle closes the
    same graph with a recursive CTE); canonical = min doc_id in the
    cluster. Covers every doc that appears in any candidate pair."""
    d = load_table(spark, sf_dir, "documents")
    comp = _lsh_components(d)
    return comp.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("canonical_id")
    )


@query("lsh_candidate_pairs", _LSH_PAIRS_CTE + "SELECT id_a, id_b FROM cand")
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH candidate generation (4 bands x 2 hashes): the self-join
    is confined to band buckets — the scale path for near-dedup."""
    d = load_table(spark, sf_dir, "documents")
    return _lsh_pairs(d)


@query(
    "near_dup_pairs",
    _LSH_PAIRS_CTE
    + """
SELECT c.id_a, c.id_b,
  ROUND(
    len(list_intersect(a.shs, b.shs))::DOUBLE
    / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))::DOUBLE,
  6) AS jaccard
FROM cand c
JOIN (SELECT doc_id, list_distinct(list(shingle)) AS shs FROM sh GROUP BY doc_id) a
  ON a.doc_id = c.id_a
JOIN (SELECT doc_id, list_distinct(list(shingle)) AS shs FROM sh GROUP BY doc_id) b
  ON b.doc_id = c.id_b
""",
)
def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dedup pipeline: MinHash -> LSH bands -> candidate pairs ->
    exact n-gram Jaccard verification on candidates only
    (``_lsh_jaccard_pairs``)."""
    d = load_table(spark, sf_dir, "documents")
    j = _lsh_jaccard_pairs(d)
    return j.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _simhash_oracle() -> str:
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h16 >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(16)
    )
    fp = " + ".join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(16))
    return f"""
WITH words AS (
  SELECT doc_id,
    list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
ex AS (
  SELECT doc_id, ('0x' || substr(md5(t.x), 1, 4))::INTEGER AS h16
  FROM words, UNNEST(w) AS t(x)
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM ex GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


@query("simhash_fingerprints", _simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (16-bit demo width; production uses 64): bit-
    majority vote over word hashes, one grouped aggregation."""
    from fireball_data_processing_spark.operators.dedup import simhash

    d = load_table(spark, sf_dir, "documents")
    return simhash(d, bits=16)


# =====================================================================
# Similarity search over embeddings
# =====================================================================

_COSINE_EXPR = """
  list_sum(list_transform(generate_series(1, 64),
           i -> q.qv[i]::DOUBLE * c.embedding[i]::DOUBLE))
  / (sqrt(list_sum(list_transform(generate_series(1, 64),
           i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
   * sqrt(list_sum(list_transform(generate_series(1, 64),
           i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))))
"""


def _sql_cosine(a: str, b: str, n: str) -> str:
    return f"""
  list_sum(list_transform(generate_series(1, {n}),
           i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
  / (sqrt(list_sum(list_transform(generate_series(1, {n}),
           i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
   * sqrt(list_sum(list_transform(generate_series(1, {n}),
           i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))"""


def _kmeans_cte(
    k: int,
    n_iter: int,
    prelude: str | None = None,
    src: str = "e",
    vec: str = "v",
    ns: str = "",
) -> tuple[str, str]:
    """Unrolled-Lloyd DuckDB CTE chain replaying
    operators/clustering.py kmeans_fit: same deterministic seeding
    (k lowest vec_ids), same 6-dp centroid rounding each iteration
    (ROUND is half-away-from-zero in both engines), same
    sequential-in-array-order distance fold (list_sum ~ F.aggregate),
    same (dist, cid) argmin tie-break. Rounding the k x dim centroids
    each iteration is what makes the replay exact: it absorbs the
    engines' aggregation-order float noise at every step. Returns
    ``(cte_sql, final_assignment_name)`` so composed oracles (cluster
    profile, k-means SemDeDup, sketch-space IVF) share one definition.

    ``ns`` prefixes every internal CTE name (``{ns}c0f`` ...), so
    SEVERAL independent fits compose in ONE oracle (the PQ oracle runs
    one fit per subspace); the default empty prefix keeps the
    single-fit oracles byte-identical.

    ``prelude``/``src``/``vec`` parameterize the clustered input: by
    default the fit runs over ``embeddings`` directly; the sketch-space
    IVF oracle passes a prelude that builds the JL-sketch CTE and fits
    over it instead. The assignment CTEs alias the vector column back
    to ``v`` so downstream consumers are input-agnostic. The final
    centroid table is named ``c{n_iter}f`` (probing oracles join it)."""
    if prelude is None:
        prelude = (
            "\nWITH e AS "
            "(SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
        )
    parts = [
        prelude
        + """,
{ns}c0f AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform({vec}, x -> ROUND(x, 6)) AS cv
  FROM {src}
  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {k}
)""".format(vec=vec, src=src, k=k, ns=ns)
    ]
    for t in range(1, n_iter + 2):
        parts.append(
            """,
{ns}d{t} AS (
  SELECT e.vec_id, e.{vec} AS v, c.cid,
    list_sum(list_transform(generate_series(1, len(e.{vec})),
             i -> (e.{vec}[i] - c.cv[i]) * (e.{vec}[i] - c.cv[i]))) AS d2
  FROM {src} e, {ns}c{p}f c
),""".format(t=t, p=t - 1, src=src, vec=vec, ns=ns)
            + """
{ns}a{t} AS (
  SELECT * FROM {ns}d{t}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
)""".format(t=t, p=t - 1, ns=ns)
        )
        if t <= n_iter:
            parts.append(
                """,
{ns}m{t} AS (
  SELECT cid, i, ROUND(AVG(v[i]), 6) AS m
  FROM {ns}a{t}, UNNEST(generate_series(1, len(v))) AS u{t}(i)
  GROUP BY cid, i
),
{ns}c{t}f AS (
  SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
  FROM {ns}c{p}f p LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS cv FROM {ns}m{t} GROUP BY cid
  ) n USING (cid)
)""".format(t=t, p=t - 1, ns=ns)
            )
    return "".join(parts), f"{ns}a{n_iter + 1}"


_ANN_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    ROUND({_COSINE_EXPR}, 6) AS cosine_sim
  FROM q, embeddings c
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("ann_cosine_topk", _ANN_ORACLE)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact baseline): JVM-side dot products
    via zip_with/aggregate, broadcast corpus, per-query row_number top-k.
    Ranking on the ROUNDED similarity with id tiebreak keeps the top-k set
    engine-deterministic."""
    from fireball_data_processing_spark.operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(e.filter(F.col("vec_id") < 10), e, k=5, round_dp=6)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# =====================================================================
# FIREBALL-schema parity fixtures (inline literal rows on both sides):
# HP banding, caster coalesce, content predicates/normalizers, author
# anonymization, triple constraints, combat-state actor stats, and the
# heuristic suite on the real message/command roles.
# =====================================================================

from fireball_data_processing_spark import fixtures as FX

_CMD_RE = r"^(!|\$|%|\^|&|/|\]|a!|<)"


@query(
    "fb_hp_banding",
    f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.HP_ROWS, FX.HP_SCHEMA)}),
b AS (
  SELECT name, temp_hp,
    CASE WHEN hp IS NOT NULL AND max_hp IS NOT NULL THEN
           CASE WHEN max_hp > 0 THEN printf('<%d/%d HP; %s>', hp, max_hp,
             CASE WHEN hp::DOUBLE / max_hp >= 1.0 THEN 'Healthy'
                  WHEN hp::DOUBLE / max_hp > 0.5 THEN 'Injured'
                  WHEN hp::DOUBLE / max_hp > 0.15 THEN 'Bloodied'
                  WHEN hp::DOUBLE / max_hp > 0.0 THEN 'Critical'
                  ELSE 'Dead' END)
           ELSE printf('<%d/%d HP>', hp, max_hp) END
         WHEN hp IS NOT NULL THEN printf('<%d HP>', hp)
         ELSE '' END AS core
  FROM t
)
SELECT name,
  CASE WHEN COALESCE(temp_hp, 0) > 0
       THEN core || printf(' (+%d temp)', temp_hp) ELSE core END AS hp_str
FROM b
""",
)
def q_fb_hp_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 HP bucketing (reference distill4_normalize.py:166-190): every
    band boundary, temp-HP suffix, null/zero max_hp."""
    from fireball_data_processing_spark.functions.text import hp_band

    df = FX.spark_df(spark, FX.HP_ROWS, FX.HP_SCHEMA)
    return df.select(
        "name", hp_band(F.col("hp"), F.col("max_hp"), F.col("temp_hp")).alias("hp_str")
    )


@query(
    "discord_render_clean",
    f"""
WITH t AS (SELECT * FROM {{V}}),
s AS (
  SELECT id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(
        content, '```', '', 'g'),
      '~~(.+?)~~', '\\1', 'g'),
      '\\*\\*(.+?)\\*\\*', '\\1', 'g'),
      '__(.+?)__', '\\1', 'g'),
      '\\*(.+?)\\*', '\\1', 'g'),
      '_(.+?)_', '\\1', 'g'),
      '`([^`]*)`', '\\1', 'g') AS plain
  FROM t
)
SELECT id, plain AS plain_text,
  regexp_replace(regexp_replace(plain,
    '(?i)\\bdamn\\b', '----', 'g'),
    '(?i)\\bhell\\b', '----', 'g') AS clean_text
FROM s
""".replace("{V}", FX.values_sql(FX.RENDER_ROWS, FX.RENDER_SCHEMA)),
)
def q_discord_render_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 pipeline half (reference human_eval/discord_render.py:15-79 +
    prep_human_eval.py:211-215): discord-markdown STRIPPED to plain text
    and profanity-censored ('-' per character, word-bounded,
    case-insensitive) — both as JVM-side regexp_replace chains. The HTML
    renderer itself (presentation output) is the golden-tested
    functions.render.render_discord_markdown_str."""
    from fireball_data_processing_spark.functions.render import (
        censor_words,
        strip_markdown,
    )

    df = FX.spark_df(spark, FX.RENDER_ROWS, FX.RENDER_SCHEMA)
    plain = strip_markdown(F.col("content"))
    return df.select(
        "id",
        plain.alias("plain_text"),
        censor_words(plain).alias("clean_text"),
    )


@query(
    "fb_caster_id",
    f"""
SELECT name,
  COALESCE(
    CASE WHEN owner_id IS NOT NULL AND character_id IS NOT NULL
         THEN owner_id || '-' || character_id END,
    CASE WHEN owner IS NOT NULL AND upstream IS NOT NULL
         THEN owner || '-' || upstream END,
    fallback_id) AS caster_id
FROM {FX.values_sql(FX.CASTER_ROWS, FX.CASTER_SCHEMA)}
""",
)
def q_fb_caster_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 caster-id coalesce (reference distill2_authors.py:47-52)."""
    from fireball_data_processing_spark.functions.text import caster_id

    df = FX.spark_df(spark, FX.CASTER_ROWS, FX.CASTER_SCHEMA)
    return df.select(
        "name",
        caster_id(
            F.col("owner_id"), F.col("character_id"), F.col("owner"),
            F.col("upstream"), F.col("fallback_id"),
        ).alias("caster_id"),
    )


@query(
    "fb_content_ops",
    f"""
SELECT id,
  regexp_matches(content, '{_CMD_RE}') AS is_cmd,
  (trim(content) = '' OR contains(content, 'OOC') OR contains(content, 'OOG')
   OR starts_with(trim(content), '(')) AS is_ooc,
  regexp_replace(content, '\\(.*?\\)', '', 'g') AS no_parens,
  regexp_replace(content, '<(@[!&]?|#)\\d{{17,20}}>', '', 'g') AS no_mentions,
  regexp_replace(content, '<a?(:\\w+?:)\\d{{17,20}}>', '\\1', 'g') AS emoji_norm,
  CASE WHEN starts_with(content, prefix)
       THEN '!' || substr(content, length(prefix) + 1)
       ELSE content END AS prefix_norm,
  len(string_split(content, ' ')) AS word_count
FROM {FX.values_sql(FX.CONTENT_ROWS, FX.CONTENT_SCHEMA)}
""",
)
def q_fb_content_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P8 predicates + F1/F2/F3/F4/F6 normalizers on the reference's
    content corner cases (multi-space runs, mentions, emoji, prefixes)."""
    from fireball_data_processing_spark.functions import predicates as P
    from fireball_data_processing_spark.functions import text as T

    df = FX.spark_df(spark, FX.CONTENT_ROWS, FX.CONTENT_SCHEMA)
    c = F.col("content")
    return df.select(
        "id",
        P.is_command_invocation(c).alias("is_cmd"),
        P.is_ooc(c).alias("is_ooc"),
        T.strip_parentheticals(c).alias("no_parens"),
        T.strip_mentions(c).alias("no_mentions"),
        T.normalize_emoji(c).alias("emoji_norm"),
        T.normalize_prefix(c, F.col("prefix")).alias("prefix_norm"),
        T.word_count(c).cast("bigint").alias("word_count"),
    )


@query(
    "fb_author_anonymize",
    f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.AUTHOR_ROWS, FX.AUTHOR_SCHEMA)}),
agg AS (
  SELECT instance_id, author_id, MIN(seq) AS first_seen,
         MAX(CASE WHEN author_bot THEN 1 ELSE 0 END) = 1 AS is_bot
  FROM t GROUP BY instance_id, author_id
)
SELECT instance_id, author_id,
  CASE WHEN is_bot THEN 'Avrae'
       ELSE 'Player ' || CAST(ROW_NUMBER() OVER (
         PARTITION BY instance_id, is_bot ORDER BY first_seen) AS VARCHAR)
  END AS display_name
FROM agg
""",
)
def q_fb_author_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 author display rewriting (reference scripts/anonymize.py:89-101):
    bots -> 'Avrae', humans -> 'Player N' by first appearance."""
    from pyspark.sql.window import Window

    df = FX.spark_df(spark, FX.AUTHOR_ROWS, FX.AUTHOR_SCHEMA)
    agg = df.groupBy("instance_id", "author_id").agg(
        F.min("seq").alias("first_seen"),
        (F.max(F.when(F.col("author_bot"), 1).otherwise(0)) == 1).alias("is_bot"),
    )
    w = Window.partitionBy("instance_id", "is_bot").orderBy("first_seen")
    return agg.select(
        "instance_id",
        "author_id",
        F.when(F.col("is_bot"), F.lit("Avrae"))
        .otherwise(F.concat(F.lit("Player "), F.row_number().over(w).cast("string")))
        .alias("display_name"),
    )


@query(
    "fb_triple_constraints",
    f"""
SELECT instance_id, triple_id,
  COUNT(DISTINCT caster_id) AS n_casters,
  COUNT(DISTINCT caster_id) = 1 AS single_caster,
  COUNT(DISTINCT dm) AS n_dms
FROM {FX.values_sql(FX.TRIPLE_ROWS, FX.TRIPLE_SCHEMA)}
GROUP BY instance_id, triple_id
""",
)
def q_fb_triple_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 DM-set + A18 single-caster constraint (reference
    distill2_authors.py:40-45,72-84) as HAVING-style aggregates."""
    df = FX.spark_df(spark, FX.TRIPLE_ROWS, FX.TRIPLE_SCHEMA)
    return df.groupBy("instance_id", "triple_id").agg(
        F.countDistinct("caster_id").alias("n_casters"),
        (F.countDistinct("caster_id") == 1).alias("single_caster"),
        F.countDistinct("dm").alias("n_dms"),
    )


@query(
    "fb_actor_stats",
    f"""
WITH states AS (SELECT * FROM {{COMBAT_VALUES}}),
ex AS (SELECT combat_id, dm, UNNEST(combatants) AS c FROM states),
units AS (
  SELECT combat_id, dm,
    UNNEST(CASE WHEN c.ctype = 'group' THEN c.inner
                ELSE [{{'id': c.id, 'ctype': c.ctype}}] END) AS u
  FROM ex
)
SELECT combat_id,
  COUNT(DISTINCT u.id) AS num_actors,
  COUNT(DISTINCT CASE WHEN u.ctype = 'monster' THEN u.id END) AS num_monster_actors,
  COUNT(DISTINCT CASE WHEN u.ctype = 'player' THEN u.id END) AS num_player_actors,
  ROUND(CASE WHEN COUNT(DISTINCT CASE WHEN u.ctype = 'monster' THEN u.id END) = 0
        THEN 255.0
        ELSE COUNT(DISTINCT CASE WHEN u.ctype = 'player' THEN u.id END)::DOUBLE
           / COUNT(DISTINCT CASE WHEN u.ctype = 'monster' THEN u.id END)::DOUBLE
        END, 6) AS player_to_monster_ratio,
  COUNT(DISTINCT dm) AS n_dms
FROM units
GROUP BY combat_id
""".replace("{COMBAT_VALUES}", FX.combat_values_sql()),
)
def q_fb_actor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A8/A9/A17 combat-state actor stats with one-level group
    flattening (reference heuristics/zhu.py:49-95) and the sentinel-255
    ratio."""
    from fireball_data_processing_spark.plans.combat import actor_stats

    df = FX.spark_df(spark, FX.COMBAT_ROWS, FX.COMBAT_SPARK_SCHEMA)
    out = actor_stats(df)
    return out.withColumn(
        "player_to_monster_ratio", F.round("player_to_monster_ratio", 6)
    )


_FB_HEUR_ORACLE = f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.FB_EVENT_ROWS, FX.FB_EVENT_SCHEMA)}),
feat AS (
  SELECT *,
    (event_type = 'message') AS is_msg,
    (event_type = 'message' AND NOT COALESCE(author_bot, FALSE)
     AND NOT COALESCE(regexp_matches(content, '{_CMD_RE}'), FALSE)) AS is_utt,
    (event_type = 'command') AS is_cmd,
    len(string_split(content, ' ')) AS measure,
    MAX(CASE WHEN event_type = 'command' THEN seq END)
      OVER (PARTITION BY combat_id) AS last_cmd_seq,
    LAG(event_type) OVER (PARTITION BY combat_id ORDER BY seq) AS prev_type
  FROM t
),
feat2 AS (
  SELECT *,
    LAST_VALUE(CASE WHEN is_utt THEN timestamp END IGNORE NULLS)
      OVER (PARTITION BY combat_id, author_id ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_msg_ts,
    MAX(CASE WHEN is_utt THEN 1 ELSE 0 END)
      OVER (PARTITION BY combat_id, author_id ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS had_prior_msg
  FROM feat
)
SELECT combat_id,
  COUNT(*) AS event_count,
  COUNT(CASE WHEN is_msg THEN 1 END) AS message_count,
  COUNT(CASE WHEN is_cmd THEN 1 END) AS command_count,
  ROUND(CASE WHEN COUNT(CASE WHEN is_msg THEN 1 END) > 0
    THEN COUNT(CASE WHEN is_cmd THEN 1 END)::DOUBLE
       / COUNT(CASE WHEN is_msg THEN 1 END)::DOUBLE END, 6) AS message_to_command_ratio,
  ROUND(COALESCE(AVG(CASE WHEN is_utt THEN measure END), 0.0), 6)
    AS average_message_length,
  COUNT(DISTINCT CASE WHEN is_msg THEN author_id END) AS num_participants,
  COUNT(CASE WHEN is_cmd THEN 1 END) AS num_turns,
  ROUND(COALESCE(SUM(CASE WHEN is_utt THEN measure END), 0)::DOUBLE
    / (COUNT(CASE WHEN is_cmd THEN 1 END) + 1)::DOUBLE, 6) AS avg_words_between_commands,
  ROUND(COALESCE(CASE WHEN COUNT(CASE WHEN is_cmd THEN 1 END) > 0
    THEN COALESCE(SUM(CASE WHEN is_utt AND seq < last_cmd_seq THEN measure END), 0)::DOUBLE
       / COUNT(CASE WHEN is_cmd THEN 1 END)::DOUBLE END, 0.0), 6)
    AS avg_words_between_commands_excl_last,
  ROUND(COALESCE(ROUND(
      SUM(CASE WHEN is_cmd AND prev_msg_ts IS NOT NULL
          THEN ROUND((timestamp - prev_msg_ts) * 1000000.0)::BIGINT END)::DOUBLE
      / COUNT(CASE WHEN is_cmd AND prev_msg_ts IS NOT NULL THEN 1 END))
    / 1000000.0, 0.0), 6) AS avg_time_between_message_and_command,
  ROUND(COALESCE(AVG(CASE WHEN is_cmd
    THEN CASE WHEN COALESCE(had_prior_msg, 0) = 0 THEN 1.0 ELSE 0.0 END END), 0.0), 6)
    AS ratio_of_commands_without_message,
  COUNT(CASE WHEN prev_type IS NOT NULL AND prev_type <> event_type THEN 1 END)
    AS num_turn_changes,
  COUNT(CASE WHEN command_name = 'init join' THEN 1 END) AS init_joins,
  COUNT(CASE WHEN command_name = 'init next' THEN 1 END) AS init_nexts
FROM feat2
GROUP BY combat_id
"""


@query("fb_heuristics_small", _FB_HEUR_ORACLE)
def q_fb_heuristics_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heuristic suite on the REAL FIREBALL roles: message/command event
    types, bot + command-invocation utterance filter (heuristics/ratio.py),
    float epoch timestamps, plus A7/A10 init join/next counts."""
    import dataclasses

    from fireball_data_processing_spark.functions import predicates as P
    from fireball_data_processing_spark.plans.heuristics import heuristics_matrix
    from fireball_data_processing_spark.schema import FIREBALL_STREAM

    df = FX.spark_df(spark, FX.FB_EVENT_ROWS, FX.FB_EVENT_SCHEMA)
    fb = dataclasses.replace(
        FIREBALL_STREAM,
        extra_utterance_predicate=lambda: ~P.is_bot_message(
            F.col("author_id"), F.col("author_bot")
        )
        & ~F.coalesce(
            P.is_command_invocation(F.col("content")), F.lit(False)
        ),
    )
    out = heuristics_matrix(df, fb)
    inits = df.groupBy("combat_id").agg(
        F.count(F.when(F.col("command_name") == "init join", 1)).alias("init_joins"),
        F.count(F.when(F.col("command_name") == "init next", 1)).alias("init_nexts"),
    )
    out = out.join(inits, "combat_id")
    for c in _ROUND6_HEURISTICS:
        out = out.withColumn(c, _r6(F.col(c)))
    return out


# =====================================================================
# Distill pipeline + stateful FSM + Python-edge operators
# =====================================================================


@query(
    "triples_summary",
    f"""
WITH t AS (
  SELECT event_id, user_id, event_type, value, {_TS_US} AS ts_us,
    LAST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      OVER w_b AS bwd_id,
    LAST_VALUE(CASE WHEN event_type = 'purchase' THEN {_TS_US} END IGNORE NULLS)
      OVER w_b AS bwd_ts,
    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      OVER w_f AS fwd_id,
    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN {_TS_US} END IGNORE NULLS)
      OVER w_f AS fwd_ts
  FROM events
  WINDOW
    w_b AS (PARTITION BY user_id ORDER BY {_TS_US},
            CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_f AS (PARTITION BY user_id ORDER BY {_TS_US},
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
assigned AS (
  SELECT user_id, value, ts_us,
    CASE WHEN fwd_ts IS NULL
           OR (bwd_ts IS NOT NULL AND (ts_us - bwd_ts) <= (fwd_ts - ts_us))
         THEN bwd_id ELSE fwd_id END AS anchor_id,
    CASE WHEN fwd_ts IS NULL
           OR (bwd_ts IS NOT NULL AND (ts_us - bwd_ts) <= (fwd_ts - ts_us))
         THEN bwd_ts ELSE fwd_ts END AS anchor_ts
  FROM t WHERE event_type = 'view'
),
per_anchor AS (
  SELECT user_id, anchor_id,
    COUNT(CASE WHEN ts_us < anchor_ts THEN 1 END) AS n_before,
    COUNT(CASE WHEN ts_us >= anchor_ts THEN 1 END) AS n_after,
    ROUND(COALESCE(SUM(CASE WHEN ts_us < anchor_ts THEN value END), 0.0), 6)
      AS sum_before,
    ROUND(COALESCE(SUM(CASE WHEN ts_us >= anchor_ts THEN value END), 0.0), 6)
      AS sum_after
  FROM assigned WHERE anchor_id IS NOT NULL
  GROUP BY user_id, anchor_id
)
SELECT p.user_id, p.event_id AS anchor_id,
  COALESCE(a.n_before, 0) AS n_before,
  COALESCE(a.n_after, 0) AS n_after,
  COALESCE(a.sum_before, 0.0) AS sum_before,
  COALESCE(a.sum_after, 0.0) AS sum_after
FROM (SELECT user_id, event_id FROM events WHERE event_type = 'purchase') p
LEFT JOIN per_anchor a ON a.user_id = p.user_id AND a.anchor_id = p.event_id
""",
)
def q_triples_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distill1 triple assembly (reference distill1_time_group.py:45-82):
    utterances attach to the nearest anchor and split before/after; anchors
    with no utterances still emit triples."""
    from fireball_data_processing_spark.plans.distill import assemble_triples
    from fireball_data_processing_spark.schema import SYNTHETIC_STREAM

    ev = load_table(spark, sf_dir, "events").withColumn(
        "__ord", F.expr("ts div 1000")
    )
    out = assemble_triples(
        ev,
        SYNTHETIC_STREAM,
        utterance_predicate=F.col("event_type") == "view",
        anchor_predicate=F.col("event_type") == "purchase",
        payload_col="value",
        order_expr=F.col("__ord"),
    )
    agg_sum = lambda c: F.round(  # noqa: E731
        F.coalesce(
            F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v), F.lit(0.0)
        ),
        6,
    )
    return out.select(
        "user_id",
        "anchor_id",
        "n_before",
        "n_after",
        agg_sum(F.col("before_payloads")).alias("sum_before"),
        agg_sum(F.col("after_payloads")).alias("sum_after"),
    )


@query(
    "fsm_buffer_flush",
    """
WITH segs AS (
  SELECT user_id, event_id, event_type, value,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM events
),
p AS (SELECT user_id, event_id AS anchor_id, seg AS j FROM segs
      WHERE event_type = 'purchase'),
v AS (SELECT user_id, seg, COUNT(*) AS n, ROUND(SUM(value), 6) AS s
      FROM segs WHERE event_type = 'view' GROUP BY user_id, seg)
SELECT p.user_id, p.anchor_id,
  COALESCE(v.n, 0) AS n_buffered,
  ROUND(COALESCE(v.s, 0.0), 6) AS buffered_sum
FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.seg = p.j - 1
""",
)
def q_fsm_buffer_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13 per-instance FSM extraction (reference
    old/distill_rp_commands.py:24-127): buffer message-role events, flush on
    each command-role event — groupBy(instance).applyInPandas, sequential
    within an instance, parallel across instances."""
    from fireball_data_processing_spark.schema import SYNTHETIC_STREAM
    from fireball_data_processing_spark.streaming.heuristics_stream import (
        buffer_flush_fsm,
        fsm_extract,
    )

    ev = load_table(spark, sf_dir, "events")
    fn = buffer_flush_fsm(("view",), ("purchase",), SYNTHETIC_STREAM)
    out = fsm_extract(
        ev,
        SYNTHETIC_STREAM,
        fn,
        "user_id bigint, anchor_id bigint, n_buffered bigint, buffered_sum double",
    )
    return out


@query(
    "fsm_state_narration",
    """
WITH rel AS (
  SELECT user_id, event_id, event_type, value,
    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM events
  WHERE event_type IN ('purchase', 'signup')
     OR (event_type = 'view' AND value >= 2)
),
pv AS (
  SELECT user_id, seg, event_id, event_type, value,
    LAG(event_type) OVER (PARTITION BY user_id, seg ORDER BY event_id)
      AS prev_type
  FROM rel WHERE event_type <> 'signup'
),
chunks AS (
  SELECT user_id, seg, event_id, event_type, value,
    SUM(CASE WHEN event_type = 'purchase' AND prev_type = 'view'
             THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id, seg ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
  FROM pv
),
g AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'purchase' THEN event_id END) AS anchor_id,
    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_state,
    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_narration,
    ROUND(SUM(CASE WHEN event_type = 'view' THEN value ELSE 0 END), 6)
      AS narration_value
  FROM chunks GROUP BY user_id, seg, chunk
)
SELECT user_id, anchor_id, n_state, n_narration, narration_value
FROM g WHERE n_state > 0 AND n_narration > 0
""",
)
def q_fsm_state_narration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14: the reference's concrete 3-state FSM (search -> record-state ->
    record-narration, old/distill_state_narration.py:74-155) on the
    synthetic stream: purchase plays automation_run (start/extend the state
    buffer), signup plays a turn change (state 2 clears without emitting,
    state 3 flushes), views with value >= 2 play qualifying utterances (the
    < 2 cutoff mirrors the 1-word-message skip at :76-78), and a purchase
    arriving in state 3 flushes the (state, narration) pair and starts the
    next buffer (:129-135).

    Spark-first form: the transition table reduces to two cumulative-sum
    segmentations (signup resets, then view->purchase chunk boundaries), so
    the whole FSM runs as declarative window functions in whole-stage
    codegen — one shuffle on user_id, no Python. The explicit per-instance
    3-state runner (streaming.heuristics_stream.state_narration_fsm) is
    parity-tested against this plan.
    """
    ev = load_table(spark, sf_dir, "events")
    rel = ev.filter(
        F.col("event_type").isin("purchase", "signup")
        | ((F.col("event_type") == "view") & (F.col("value") >= 2))
    )
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rel = rel.withColumn(
        "seg",
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).over(w_seg),
    )
    pv = rel.filter(F.col("event_type") != "signup")
    w_ord = Window.partitionBy("user_id", "seg").orderBy("event_id")
    pv = pv.withColumn("prev_type", F.lag("event_type").over(w_ord))
    pv = pv.withColumn(
        "chunk",
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("prev_type") == "view"),
                1,
            ).otherwise(0)
        ).over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = pv.groupBy("user_id", "seg", "chunk").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("event_id"))
        ).alias("anchor_id"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_state"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_narration"),
        F.round(
            F.sum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(0.0)),
            6,
        ).alias("narration_value"),
    )
    return g.filter((F.col("n_state") > 0) & (F.col("n_narration") > 0)).select(
        "user_id", "anchor_id", "n_state", "n_narration", "narration_value"
    )


def _automation_narration_oracle() -> str:
    """The recursive automation-tree walk (functions/automation.py
    ``_walk``) unrolled to the fixture's bounded depth as one DuckDB
    statement (the BPE-unroll move applied to tree recursion).
    Level-by-level: each node row carries its DFS path (level-index vector;
    lexicographic list order IS pre-order, parent
    before children) and the inherited narration target, updated when
    the node is a ``target_iteration``; children come from ``children``
    or, when that is absent/empty, ``results`` — exactly the Python
    walk's ``node.get("children") or node.get("results")``. Emissions
    replicate every node-type branch (attack hit/crit/miss with target
    suffix, save with ``removesuffix('Save')``, signed damage/healing,
    temphp, effect add/remove, check/contest); structural types emit
    NULL and are filtered before the ordered '; ' join. The fixture's
    deepest tree is 6 levels; a depth of 8 leaves margin, and deeper
    levels of shallow trees are simply empty."""
    vs = FX.values_sql(FX.AUTOMATION_ROWS, FX.AUTOMATION_SCHEMA)
    parts = [f"""
WITH t AS (SELECT * FROM {vs}),
n0 AS (
  SELECT name, [CAST(0 AS BIGINT)] AS path,
    json(automation_result) AS j, CAST(NULL AS VARCHAR) AS tgt
  FROM t WHERE automation_result IS NOT NULL
)"""]
    for lv in range(8):
        parts.append(f""",
c{lv} AS (
  SELECT name, path, j,
    CASE WHEN json_extract_string(j, '$.type') = 'target_iteration' THEN
      CASE WHEN json_extract_string(j, '$.target_type') = 'self' THEN 'self'
           WHEN json_extract(j, '$.target_index') IS NOT NULL
             THEN 'target ' ||
                  CAST(CAST(json_extract(j, '$.target_index') AS BIGINT) AS VARCHAR)
           ELSE tgt END
    ELSE tgt END AS tgt,
    CASE WHEN COALESCE(json_array_length(j, '$.children'), 0) > 0
         THEN '$.children'
         WHEN COALESCE(json_array_length(j, '$.results'), 0) > 0
         THEN '$.results'
    END AS ckey,
    CASE WHEN COALESCE(json_array_length(j, '$.children'), 0) > 0
         THEN json_array_length(j, '$.children')
         ELSE COALESCE(json_array_length(j, '$.results'), 0)
    END::BIGINT AS cnt
  FROM n{lv}
),
n{lv + 1} AS (
  SELECT name, path || [CAST(u.i AS BIGINT)] AS path,
    json_extract(j, ckey || '[' || CAST(u.i AS VARCHAR) || ']') AS j,
    tgt
  FROM c{lv}, UNNEST(generate_series(0, cnt - 1)) AS u(i)
  WHERE ckey IS NOT NULL
)""")
    em_union = "\nUNION ALL ".join(
        f"SELECT name, path, j, tgt FROM c{lv}" for lv in range(8)
    )
    parts.append(f""",
alln AS ({em_union}),
em AS (
  SELECT name, path,
    CASE json_extract_string(j, '$.type')
      WHEN 'attack' THEN
        (CASE WHEN COALESCE(CAST(json_extract(j, '$.did_crit') AS BOOLEAN), FALSE)
              THEN 'critical hit'
              WHEN COALESCE(CAST(json_extract(j, '$.did_hit') AS BOOLEAN), FALSE)
              THEN 'hit' ELSE 'miss' END)
        || (CASE WHEN tgt IS NOT NULL THEN ' on ' || tgt ELSE '' END)
      WHEN 'save' THEN
        trim(trim(regexp_replace(
               COALESCE(json_extract_string(j, '$.ability'), ''), 'Save$', ''))
             || ' save '
             || CASE WHEN COALESCE(CAST(json_extract(j, '$.did_save') AS BOOLEAN),
                                   FALSE)
                     THEN 'succeeds' ELSE 'fails' END)
      WHEN 'damage' THEN
        CASE WHEN COALESCE(CAST(json_extract(j, '$.amount') AS BIGINT), 0) >= 0
          THEN CAST(COALESCE(CAST(json_extract(j, '$.amount') AS BIGINT), 0)
                    AS VARCHAR)
               || ' damage to ' || COALESCE(tgt, 'target')
          ELSE CAST(-COALESCE(CAST(json_extract(j, '$.amount') AS BIGINT), 0)
                    AS VARCHAR)
               || ' healing to ' || COALESCE(tgt, 'target') END
      WHEN 'temphp' THEN
        CAST(COALESCE(CAST(json_extract(j, '$.amount') AS BIGINT), 0) AS VARCHAR)
        || ' temporary HP'
      WHEN 'ieffect' THEN
        'effect added: ' || COALESCE(json_extract_string(j, '$.effect'),
                                     json_extract_string(j, '$.name'), '')
      WHEN 'remove_ieffect' THEN
        'effect removed: ' || COALESCE(json_extract_string(j, '$.effect'),
                                       json_extract_string(j, '$.name'), '')
      WHEN 'check' THEN
        CASE WHEN COALESCE(json_extract_string(j, '$.contest_skill_name'), '') <> ''
          THEN COALESCE(json_extract_string(j, '$.skill_name'), '')
               || ' contest vs ' || json_extract_string(j, '$.contest_skill_name')
          ELSE COALESCE(json_extract_string(j, '$.skill_name'), '') || ' check'
        END
    END AS s
  FROM alln
),
agg AS (
  SELECT name, array_to_string(list(s ORDER BY path), '; ') AS narration
  FROM em WHERE s IS NOT NULL GROUP BY name
)
SELECT t.name,
  CASE WHEN t.automation_result IS NULL THEN NULL
       ELSE COALESCE(a.narration, '') END AS narration
FROM t LEFT JOIN agg a ON a.name = t.name""")
    return "".join(parts)


@query("fb_automation_narration", _automation_narration_oracle())
def q_fb_automation_narration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 recursive automation-tree stringification (reference
    distill4_normalize.py:216-286) — Arrow-batched pandas UDF over the
    JSON column. ORACLE-CHECKED: UNBOUNDED recursion is not
    SQL-expressible, but the fixture trees are depth-bounded, so the
    walk unrolls level-by-level in DuckDB with DFS-path ordering
    (`_automation_narration_oracle`) — the same bounded-unroll move as
    the BPE training/application oracles. Golden-fixture unit tests
    additionally pin the narration strings themselves."""
    from fireball_data_processing_spark.functions.automation import narrate_automation

    df = FX.spark_df(spark, FX.AUTOMATION_ROWS, FX.AUTOMATION_SCHEMA)
    return df.select(
        "name", narrate_automation(F.col("automation_result")).alias("narration")
    )


@query("multimodal_features", None)  # binary plumbing: rows-only check
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: mapInPandas feature extraction
    with a deterministic stand-in kernel (real codecs absent in this
    container — the Spark-side schema/batching is what's under test)."""
    from fireball_data_processing_spark.operators.multimodal import extract_features

    df = spark.createDataFrame(
        FX.MEDIA_ROWS, schema="media_id bigint, mime string, data binary"
    )
    return extract_features(df)


# =====================================================================
# Remaining join family (J7/J8), label joins (J1/F19/F20), group ops
# (G2/G3), last-K (O6), corpus checksum (S6), inference envelope (U3)
# =====================================================================


@query(
    "fb_embed_finding",
    f"""
WITH t AS (SELECT * FROM {{V}}),
runs AS (
  SELECT combat_id, seq AS run_seq, caster_name, targets FROM t
  WHERE event_type = 'automation_run'
),
cands AS (
  SELECT combat_id, seq AS msg_seq, embed_title, embed_field_names FROM t
  WHERE event_type = 'message' AND COALESCE(author_bot, FALSE)
    AND content = '' AND n_embeds = 1
)
SELECT combat_id, run_seq, MIN(msg_seq) AS embed_msg_seq FROM (
  SELECT r.combat_id, r.run_seq, c.msg_seq
  FROM runs r LEFT JOIN cands c
    ON c.combat_id = r.combat_id AND c.msg_seq > r.run_seq
   AND (contains(c.embed_title, r.caster_name)
        OR len(list_filter(r.targets,
              x -> NOT list_contains(c.embed_field_names, x))) = 0)
)
GROUP BY combat_id, run_seq
""".replace("{V}", FX.embed_values_sql()),
)
def q_fb_embed_finding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 embed finding (reference distill4_normalize.py:289-309):
    conditional forward search — first later empty-content single-embed bot
    message whose title names the caster or whose field names cover the
    targets; set containment via array_except."""
    df = FX.spark_df(spark, FX.EMBED_ROWS, FX.EMBED_SCHEMA)
    runs = df.filter(F.col("event_type") == "automation_run").select(
        "combat_id", F.col("seq").alias("run_seq"), "caster_name", "targets"
    )
    cands = df.filter(
        (F.col("event_type") == "message")
        & F.coalesce(F.col("author_bot"), F.lit(False))
        & (F.col("content") == "")
        & (F.col("n_embeds") == 1)
    ).select("combat_id", F.col("seq").alias("msg_seq"), "embed_title",
             "embed_field_names")
    joined = runs.join(
        cands,
        (runs["combat_id"] == cands["combat_id"])
        & (F.col("msg_seq") > F.col("run_seq"))
        & (
            F.col("embed_title").contains(F.col("caster_name"))
            | (F.size(F.array_except("targets", "embed_field_names")) == 0)
        ),
        "left",
    ).select(runs["combat_id"], "run_seq", "msg_seq")
    return joined.groupBy("combat_id", "run_seq").agg(
        F.min("msg_seq").alias("embed_msg_seq")
    )


@query(
    "fb_tupper_candidates",
    f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.TUPPER_ROWS, FX.TUPPER_SCHEMA)})
SELECT combat_id, orig_seq, MIN(echo_seq) AS echo_seq FROM (
  SELECT m1.combat_id, m1.seq AS orig_seq, m2.seq AS echo_seq
  FROM t m1 JOIN t m2
    ON m2.combat_id = m1.combat_id
   AND m2.seq BETWEEN m1.seq + 1 AND m1.seq + 16
   AND m2.author_id <> m1.author_id
   AND COALESCE(m2.author_bot, FALSE)
   AND NOT COALESCE(m1.author_bot, FALSE)
   AND contains(m1.content, m2.content)
   AND length(m2.content)::DOUBLE / length(m1.content) > 0.7
   AND length(m2.content)::DOUBLE / length(m1.content) < 1.0
)
GROUP BY combat_id, orig_seq
""",
)
def q_fb_tupper_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 tupper echo detection (reference distill4_normalize.py:316-337):
    bounded 16-event lookahead self-join, containment + length ratio in
    (0.7, 1.0), earliest echo per original."""
    df = FX.spark_df(spark, FX.TUPPER_ROWS, FX.TUPPER_SCHEMA)
    m1 = df.alias("m1")
    m2 = df.alias("m2")
    ratio = F.length(F.col("m2.content")).cast("double") / F.length(
        F.col("m1.content")
    )
    pairs = m1.join(
        m2,
        (F.col("m2.combat_id") == F.col("m1.combat_id"))
        & F.col("m2.seq").between(F.col("m1.seq") + 1, F.col("m1.seq") + 16)
        & (F.col("m2.author_id") != F.col("m1.author_id"))
        & F.coalesce(F.col("m2.author_bot"), F.lit(False))
        & ~F.coalesce(F.col("m1.author_bot"), F.lit(False))
        & F.col("m1.content").contains(F.col("m2.content"))
        & (ratio > 0.7)
        & (ratio < 1.0),
    ).select(
        F.col("m1.combat_id").alias("combat_id"),
        F.col("m1.seq").alias("orig_seq"),
        F.col("m2.seq").alias("echo_seq"),
    )
    return pairs.groupBy("combat_id", "orig_seq").agg(
        F.min("echo_seq").alias("echo_seq")
    )


@query(
    "feature_label_join",
    f"""
WITH features AS (
  SELECT user_id, COUNT(*) AS event_count FROM events GROUP BY user_id
),
labels AS (SELECT * FROM {FX.values_sql(FX.LABEL_ROWS, FX.LABEL_SCHEMA)})
SELECT f.user_id, f.event_count,
  COALESCE(GREATEST(l.rp_label, l.cmd_label), -1.0) AS rp_or_cmd,
  COALESCE(LEAST(l.rp_label, l.cmd_label), -1.0) AS rp_and_cmd,
  CASE WHEN COALESCE(GREATEST(l.rp_label, l.cmd_label), -1.0) = 1.0
       THEN 'in-character' ELSE 'out-of-character' END AS label_token
FROM features f JOIN labels l ON l.user_id = f.user_id
""",
)
def q_feature_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 features x labels (reference regression/load_data.py:14-24) with
    F19 greatest/least label fusion + fillna(-1) and F20 label->token
    mapping — labels broadcast (tiny dim)."""
    ev = load_table(spark, sf_dir, "events")
    features = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("event_count"))
    labels = FX.spark_df(spark, FX.LABEL_ROWS, FX.LABEL_SCHEMA)
    rp_or = F.coalesce(
        F.greatest("rp_label", "cmd_label"), F.lit(-1.0)
    )
    return (
        features.join(F.broadcast(labels), "user_id")
        .select(
            "user_id",
            "event_count",
            rp_or.alias("rp_or_cmd"),
            F.coalesce(F.least("rp_label", "cmd_label"), F.lit(-1.0)).alias(
                "rp_and_cmd"
            ),
            F.when(rp_or == 1.0, F.lit("in-character"))
            .otherwise(F.lit("out-of-character"))
            .alias("label_token"),
        )
    )


@query(
    "per_key_group_stats",
    """
SELECT user_id,
  CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS key_bucket,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 6) AS value_sum
FROM events
GROUP BY user_id, key_bucket
""",
)
def q_per_key_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 partitioned_groups by an arbitrary key expression (reference
    heuristics/utils.py:112-121)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.get_json_object("props", "$.k").cast("int") % 10).alias("key_bucket")
    return ev.groupBy("user_id", bucket).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


@query(
    "groups_with_view_head",
    """
SELECT user_id, k, n_events FROM (
  SELECT user_id,
    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
    COUNT(*) AS n_events,
    MIN_BY(event_type, event_id) AS head_type
  FROM events
  GROUP BY user_id, k
) WHERE head_type = 'view'
""",
)
def q_groups_with_view_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 filter groups by a predicate on the head row (reference
    heuristics/utils.py:123-125): min_by gives the head without a window."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k")
    g = ev.groupBy("user_id", k).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min_by("event_type", "event_id").alias("head_type"),
    )
    return g.filter(F.col("head_type") == "view").select("user_id", "k", "n_events")


@query(
    "last_k_events",
    """
SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn FROM (
  SELECT user_id, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn <= 5
""",
)
def q_last_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 last-K slicing (reference [-5:] history, [-15:] context)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", "rn")
    )


@query(
    "corpus_checksum",
    """
SELECT md5(string_agg(fp, '' ORDER BY doc_id)) AS corpus_checksum,
       COUNT(*) AS n_docs
FROM (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
""",
)
def q_corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 dataset checksum (reference dataset/utils.py:64-67 md5 dirhash):
    order-sensitive md5 over per-document fingerprints — the engine's
    memoization key."""
    from fireball_data_processing_spark.functions.textstats import content_fingerprint

    d = load_table(spark, sf_dir, "documents")
    fps = d.select("doc_id", content_fingerprint(F.col("text")).alias("fp"))
    ordered = fps.agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "fp"))).alias("xs"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return ordered.select(
        F.md5(F.array_join(F.transform("xs", lambda x: x["fp"]), "")).alias(
            "corpus_checksum"
        ),
        "n_docs",
    )


@query(
    "ic_ooc_classification",
    """
SELECT doc_id, label, prob FROM (
  SELECT doc_id,
    CASE WHEN trim(text) = '' OR contains(text, 'OOC') OR contains(text, 'OOG')
              OR starts_with(trim(text), '(')
         THEN 'out-of-character' ELSE 'in-character' END AS label,
    ROUND(0.8 + ('0x' || substr(md5('p' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 * 0.2, 6) AS prob
  FROM documents
) WHERE label = 'in-character' AND prob > 0.85
""",
)
def q_ic_ooc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3's deterministic envelope (reference
    distill3b_ic_classifier_gpt.py:37-75): rule-based IC/OOC labeling, a
    deterministic probability, and the keep-threshold filter. The model
    call itself plugs into ``plans.inference.classify_batches`` (the
    mapInPandas stage, parity-tested with a rule model); this is the
    testable contract around it."""
    from fireball_data_processing_spark.functions.predicates import is_ooc
    from fireball_data_processing_spark.operators.sampling import hash_rank

    d = load_table(spark, sf_dir, "documents")
    label = F.when(
        is_ooc(F.col("text")), F.lit("out-of-character")
    ).otherwise(F.lit("in-character"))
    prob = F.round(0.8 + hash_rank(F.col("doc_id"), "p") * 0.2, 6)
    out = d.select("doc_id", label.alias("label"), prob.alias("prob"))
    return out.filter((F.col("label") == "in-character") & (F.col("prob") > 0.85))


# =====================================================================
# Explorer stream, set ops, multi-key sort, agreement statistics
# =====================================================================


@query(
    "instance_event_stream",
    """
SELECT event_id, event_type, value FROM events WHERE user_id = 7
""",
)
def q_instance_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12/explorer `/events/{id}`: one instance's ordered raw stream
    (reference explorer_server.py:80-88). Filter pushes down to the scan;
    at scale, instance-partitioned storage makes this partition pruning."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") == 7)
        .orderBy("event_id")
        .select("event_id", "event_type", "value")
    )


@query(
    "users_view_except_purchase",
    """
SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events WHERE event_type = 'purchase'
""",
)
def q_users_view_except_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 set ops (reference set.difference / intersection usage):
    set-semantics EXCEPT (``subtract``, not the bag-semantics
    ``exceptAll``) on (user, correlation-key) pairs."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k")
    views = ev.filter(F.col("event_type") == "view").select("user_id", k)
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", k)
    return views.subtract(buys)


@query(
    "multi_key_sort_page",
    """
SELECT event_id FROM (
  SELECT event_id,
    ROW_NUMBER() OVER (ORDER BY event_type ASC, value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn > 250 AND rn <= 500
""",
)
def q_multi_key_sort_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 explorer multi-key sort (asc + desc keys, id tiebreak) + O3 page
    slice."""
    from fireball_data_processing_spark.operators.windows import paginate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    page = paginate(
        ev, [("event_type", True), ("value", False)], "event_id", page=1,
        page_size=250,
    )
    return page.select("event_id")


_KAPPA_ORACLE = """
WITH ratings AS (
  SELECT CAST(user_id % 4 AS VARCHAR) AS rater,
         event_id % 200 AS item,
         event_type AS label
  FROM events
),
joined AS (
  SELECT a.rater AS rater_a, b.rater AS rater_b,
         a.label AS label_a, b.label AS label_b
  FROM ratings a JOIN ratings b ON a.item = b.item AND a.rater < b.rater
),
stats AS (
  SELECT rater_a, rater_b,
    COUNT(*) AS n_items,
    AVG(CASE WHEN label_a = label_b THEN 1.0 ELSE 0.0 END) AS po,
    (AVG(CASE WHEN label_a = 'view' THEN 1.0 ELSE 0.0 END)
       * AVG(CASE WHEN label_b = 'view' THEN 1.0 ELSE 0.0 END)
     + AVG(CASE WHEN label_a = 'click' THEN 1.0 ELSE 0.0 END)
       * AVG(CASE WHEN label_b = 'click' THEN 1.0 ELSE 0.0 END)
     + AVG(CASE WHEN label_a = 'purchase' THEN 1.0 ELSE 0.0 END)
       * AVG(CASE WHEN label_b = 'purchase' THEN 1.0 ELSE 0.0 END)
     + AVG(CASE WHEN label_a = 'signup' THEN 1.0 ELSE 0.0 END)
       * AVG(CASE WHEN label_b = 'signup' THEN 1.0 ELSE 0.0 END)
     + AVG(CASE WHEN label_a = 'error' THEN 1.0 ELSE 0.0 END)
       * AVG(CASE WHEN label_b = 'error' THEN 1.0 ELSE 0.0 END)) AS pe
  FROM joined GROUP BY rater_a, rater_b
)
SELECT rater_a, rater_b, n_items,
  ROUND(CASE WHEN pe = 1.0 THEN 1.0 ELSE (po - pe) / (1.0 - pe) END, 6) + 0.0
    AS kappa
FROM stats
"""


#: the labels of the synthetic rating panel: the events table's event types
_RATING_LABELS = ("view", "click", "purchase", "signup", "error")


def _event_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(rater, item, label)``: the synthetic rating derivation the
    kappa, alpha and Dawid-Skene queries share — rater ``user_id % 4``,
    item ``event_id % 200``, label the event type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % 4).cast("string").alias("rater"),
        (F.col("event_id") % 200).alias("item"),
        F.col("event_type").alias("label"),
    )


@query("agreement_kappa", _KAPPA_ORACLE)
def q_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 pairwise Cohen's kappa (reference
    human_eval/results_analysis.py:107-178): self-join raters on co-rated
    items, one JVM aggregation per pair."""
    ratings = _event_ratings(spark, sf_dir)
    a = ratings.select(
        F.col("rater").alias("rater_a"), "item", F.col("label").alias("label_a")
    )
    b = ratings.select(
        F.col("rater").alias("rater_b"), "item", F.col("label").alias("label_b")
    )
    joined = a.join(b, "item").filter(F.col("rater_a") < F.col("rater_b"))
    frac = lambda c, side: F.avg(  # noqa: E731
        F.when(F.col(side) == c, 1.0).otherwise(0.0)
    )
    pe = sum(frac(c, "label_a") * frac(c, "label_b") for c in _RATING_LABELS)
    po = F.avg(F.when(F.col("label_a") == F.col("label_b"), 1.0).otherwise(0.0))
    stats = joined.groupBy("rater_a", "rater_b").agg(
        F.count(F.lit(1)).alias("n_items"),
        po.alias("po"),
        pe.alias("pe"),
    )
    kappa = F.when(F.col("pe") == 1.0, F.lit(1.0)).otherwise(
        (F.col("po") - F.col("pe")) / (F.lit(1.0) - F.col("pe"))
    )
    return stats.select(
        "rater_a", "rater_b", "n_items",
        (F.round(kappa, 6) + 0.0).alias("kappa"),  # canonicalize -0.0
    )


# F8's exact rendering (anonymize.py:24-29): md5 digest read as an
# UNSIGNED LITTLE-ENDIAN 128-bit integer, decimal-rendered, first 18
# digits, left-zero-padded. DuckDB replays it bit-for-bit: reverse the
# 16 digest bytes of md5() hex, parse the two 64-bit halves via 0x-cast,
# recombine in UHUGEINT (unsigned 128 — HUGEINT would overflow above
# 2^127), then the same truncate-and-pad. {U} is the raw-id SQL expr.
_F8_H18_SQL = """
rev AS (
  SELECT e.*, string_agg(substr(e.hx, 33 - 2 * u.i, 2), '' ORDER BY u.i)
    AS le_hex
  FROM h e, UNNEST(generate_series(1, 16)) AS u(i)
  GROUP BY ALL
),
n AS (
  SELECT *, lpad(substr(CAST(
      CAST(CONCAT('0x', substr(le_hex, 1, 16)) AS UBIGINT)::UHUGEINT
        * 18446744073709551616::UHUGEINT
      + CAST(CONCAT('0x', substr(le_hex, 17, 16)) AS UBIGINT)::UHUGEINT
    AS VARCHAR), 1, 18), 18, '0') AS h18
  FROM rev
)"""

_ANON_PROPS_ORACLE = f"""
WITH ev AS (
  SELECT event_id,
    CAST(user_id + 100000000000000000 AS VARCHAR) AS uid, props
  FROM events WHERE event_id % 50 = 0
),
h AS (SELECT event_id, uid, props, md5(uid) AS hx FROM ev),
{_F8_H18_SQL}
SELECT event_id,
  '{{"uid": "' || h18 || '", "note": "user ' || h18
    || ' wrote", "props": ' || props || '}}' AS props_anon
FROM n
"""


@query("anonymized_props", _ANON_PROPS_ORACLE)
def q_anonymized_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 recursive anonymization over a JSON column (reference
    scripts/anonymize.py:38-67) — pandas UDF walk, ORACLE-CHECKED: the
    events rows get a synthetic envelope injecting a
    snowflake-scale id BOTH as a standalone JSON string value and
    embedded mid-sentence (the two regex-boundary shapes the reference
    walk handles), so the oracle exercises the full F10 path — the
    recursive walk, the \\b\\d{{17,20}}\\b substitution, and F8's exact
    md5-little-endian-18-digit rendering, replayed in DuckDB via
    UHUGEINT arithmetic (`_F8_H18_SQL`; parity pinned in
    tests/test_ml_and_anonymize.py). The inner `props` object passes
    through untouched (its values are below snowflake scale), which the
    oracle asserts by splicing the raw text — `json.dumps` round-trips
    the corpus' props byte-identically at every SF."""
    from fireball_data_processing_spark.functions.ids import anonymize_json

    ev = load_table(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(50)) == 0
    )
    uid = (F.col("user_id").cast("bigint") + F.lit(10**17)).cast("string")
    payload = F.concat(
        F.lit('{"uid": "'), uid,
        F.lit('", "note": "user '), uid,
        F.lit(' wrote", "props": '), F.col("props"), F.lit("}"),
    )
    return ev.select(
        "event_id", anonymize_json(payload).alias("props_anon")
    )


# =====================================================================
# F5 snippet substitution, F12/F13 actor + prompt strings, S11/O1 export
# =====================================================================


@query(
    "fb_snippet_substitution",
    f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.SNIPPET_ROWS, FX.SNIPPET_SCHEMA)}),
w AS (
  SELECT *, string_split(content, ' ') AS words,
    COALESCE(list_position(string_split(content, ' '), snippet_name), 0) AS pos
  FROM t
)
SELECT id,
  CASE WHEN pos > 0 THEN array_to_string(
      list_slice(words, 1, pos - 1)
      || [content_after]
      || CASE WHEN pos < len(words)
              THEN list_slice(words, pos + 1, len(words))
              ELSE [] END,
      ' ')
  ELSE content END AS substituted
FROM w
""",
)
def q_fb_snippet_substitution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 snippet substitution (reference distill4_normalize.py:359-371):
    replace the first word equal to snippet_name with content_after
    (' '-split form; shlex-exact variant is a pandas UDF)."""
    from fireball_data_processing_spark.functions.text import substitute_snippet

    df = FX.spark_df(spark, FX.SNIPPET_ROWS, FX.SNIPPET_SCHEMA)
    return df.select(
        "id",
        substitute_snippet(
            F.col("content"), F.col("snippet_name"), F.col("content_after")
        ).alias("substituted"),
    )


@query(
    "fb_actor_strings",
    f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.ACTOR_ROWS, FX.ACTOR_SCHEMA)}),
s AS (
  SELECT name,
    concat_ws(' ',
      name,
      CASE WHEN race IS NOT NULL AND cls IS NOT NULL THEN '(' || race || '; ' || cls || ')'
           WHEN race IS NOT NULL THEN '(' || race || ')'
           WHEN cls IS NOT NULL THEN '(' || cls || ')' END,
      hp_str,
      CASE WHEN effects IS NOT NULL AND effects <> '' THEN '[' || effects || ']' END
    ) AS short_str,
    concat_ws(chr(10),
      'Name: ' || name,
      CASE WHEN cls IS NOT NULL THEN 'Class: ' || cls END,
      CASE WHEN race IS NOT NULL THEN 'Race: ' || race END,
      CASE WHEN attacks IS NOT NULL AND attacks <> '' THEN 'Attacks: ' || attacks END,
      CASE WHEN spells IS NOT NULL AND spells <> '' THEN 'Spells: ' || spells END,
      CASE WHEN actions IS NOT NULL AND actions <> '' THEN 'Actions: ' || actions END,
      CASE WHEN effects IS NOT NULL AND effects <> '' THEN 'Effects: ' || effects END,
      CASE WHEN description IS NOT NULL THEN 'Description: ' || description END
    ) AS long_str
  FROM t
)
SELECT name, short_str, long_str,
  short_str || chr(10) || chr(10) || long_str || chr(10) || chr(10) || '<|asep|>'
    AS prompt
FROM s
""",
)
def q_fb_actor_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 actor stringification (reference prompts.py:6-50) + F13 prompt
    assembly with the <|asep|> separator (prompts.py:1-3)."""
    from fireball_data_processing_spark.functions.game import (
        actor_long_str,
        actor_short_str,
        assemble_prompt,
    )

    df = FX.spark_df(spark, FX.ACTOR_ROWS, FX.ACTOR_SCHEMA)
    short = actor_short_str(
        F.col("name"), F.col("race"), F.col("cls"), F.col("hp_str"),
        F.col("effects"),
    )
    long_ = actor_long_str(
        F.col("name"), F.col("cls"), F.col("race"), F.col("attacks"),
        F.col("spells"), F.col("actions"), F.col("effects"),
        F.col("description"),
    )
    out = df.select(
        "name", short.alias("short_str"), long_.alias("long_str")
    )
    return out.withColumn(
        "prompt", assemble_prompt(F.col("short_str"), F.col("long_str"))
    )


_HEUR_LONG_ORACLE = (
    "WITH m AS (" + _HEURISTIC_ORACLE + "),\n"
    "long AS (\n"
    + "\n  UNION ALL ".join(
        f"SELECT user_id, '{h}' AS heuristic, CAST({h} AS DOUBLE) AS score FROM m"
        for h in (
            "event_count", "message_count", "command_count",
            "message_to_command_ratio", "average_message_length",
            "num_participants", "num_turns", "avg_words_between_commands",
            "avg_words_between_commands_excl_last",
            "avg_time_between_message_and_command",
            "ratio_of_commands_without_message", "num_turn_changes",
        )
    )
    + "\n)\nSELECT user_id, heuristic, score,\n"
    "  CAST(ROW_NUMBER() OVER (ORDER BY score ASC NULLS FIRST, heuristic, user_id)"
    " AS BIGINT) AS rank\nFROM long"
)


@query("heuristics_long_sorted", _HEUR_LONG_ORACLE)
def q_heuristics_long_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/O1: the heuristics matrix unpivoted to the reference's long
    (instance, heuristic, score) result shape, globally sorted by score
    (heuristic_worker.py:114) with a deterministic rank.

    Scale shape: ranked via ``operators/windows.two_phase_global_rank``
    — the token_budget_fill bucketed prefix-sum pattern generalized to
    exact global ranking (a naive
    ``row_number().over(Window.orderBy(...))`` moves the whole
    user-grain long frame to ONE partition). Rank values are identical
    to the global window's — the composite key is unique and the
    quantile-cut bucketing is order-monotone — so the oracle is
    unchanged; the only unpartitioned window left is the
    (n_buckets+1)-row offset cumulation."""
    from fireball_data_processing_spark.operators.windows import (
        two_phase_global_rank,
    )

    wide = q_heuristics_matrix(spark, sf_dir)
    names = [c for c in wide.columns if c != "user_id"]
    stack_expr = "stack({}, {}) as (heuristic, score)".format(
        len(names), ", ".join(f"'{n}', cast({n} as double)" for n in names)
    )
    long_df = wide.select("user_id", F.expr(stack_expr))
    return two_phase_global_rank(
        long_df, "score", ["heuristic", "user_id"], n_buckets=8
    )


# =====================================================================
# distill4 composite, rolling-hash fingerprint, embedding near-dup
# =====================================================================


@query(
    "fb_distill4_core",
    f"""
WITH t AS (SELECT * FROM {FX.values_sql(FX.FB_EVENT_ROWS, FX.FB_EVENT_SCHEMA)}),
feat AS (
  SELECT *,
    COALESCE(list_filter(
      list(CASE WHEN event_type = 'message' THEN content END)
        OVER (PARTITION BY combat_id ORDER BY seq
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      x -> x IS NOT NULL), []) AS prior_msgs,
    LAST_VALUE(CASE WHEN event_type = 'combat_state_update' THEN seq END IGNORE NULLS)
      OVER (PARTITION BY combat_id ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS state_before_seq,
    FIRST_VALUE(CASE WHEN event_type = 'combat_state_update' THEN seq END IGNORE NULLS)
      OVER (PARTITION BY combat_id ORDER BY seq
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS state_after_seq
  FROM t
)
SELECT combat_id, seq AS command_seq, author_id AS speaker_id,
  COALESCE(array_to_string(
    CASE WHEN len(prior_msgs) >= 2
         THEN list_slice(prior_msgs, len(prior_msgs) - 1, len(prior_msgs))
         ELSE prior_msgs END, ' | '), '') AS utterance_history,
  CAST(len(prior_msgs) AS BIGINT) AS n_prior_msgs,
  state_before_seq, state_after_seq,
  regexp_replace(content, '\\(.*?\\)', '', 'g') AS content_norm
FROM feat WHERE event_type = 'command'
""",
)
def q_fb_distill4_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distill4's SQL-expressible core per command row (reference
    distill4_normalize.py:377-490): utterance-history window (G12, last 2),
    backward/forward state as-of (G5/G6), speaker extraction and content
    normalization (F1) — one window pass, one exchange."""
    from pyspark.sql.window import Window

    from fireball_data_processing_spark.functions.text import strip_parentheticals
    from fireball_data_processing_spark.operators.asof import (
        asof_backward_col,
        asof_forward_col,
    )

    df = FX.spark_df(spark, FX.FB_EVENT_ROWS, FX.FB_EVENT_SCHEMA)
    w_prior = (
        Window.partitionBy("combat_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_state = F.col("event_type") == "combat_state_update"
    feat = df.withColumn(
        "prior_msgs",
        F.collect_list(
            F.when(F.col("event_type") == "message", F.col("content"))
        ).over(w_prior),
    ).withColumn(
        "state_before_seq",
        asof_backward_col(is_state, F.col("seq"), ["combat_id"], "seq",
                          include_current=False),
    ).withColumn(
        "state_after_seq",
        asof_forward_col(is_state, F.col("seq"), ["combat_id"], "seq",
                         include_current=False),
    )
    n = F.size("prior_msgs")
    last2 = F.when(
        n >= 2, F.slice("prior_msgs", (n - 1).cast("int"), 2)
    ).otherwise(F.col("prior_msgs"))
    return feat.filter(F.col("event_type") == "command").select(
        "combat_id",
        F.col("seq").alias("command_seq"),
        F.col("author_id").alias("speaker_id"),
        F.array_join(last2, " | ").alias("utterance_history"),
        n.cast("bigint").alias("n_prior_msgs"),
        "state_before_seq",
        "state_after_seq",
        strip_parentheticals(F.col("content")).alias("content_norm"),
    )


@query(
    "doc_rolling_hash",
    """
SELECT doc_id,
  list_reduce(
    [0] || list_transform(
      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
      w -> ('0x' || substr(md5(w), 1, 8))::BIGINT),
    (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
FROM documents
""",
)
def q_doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (the shift-resistant
    variant of md5 fingerprinting; LLM-pipeline text-analysis extension)."""
    from fireball_data_processing_spark.functions.textstats import rolling_hash

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_hash(F.col("text")).alias("rhash"))


@query(
    "embedding_near_dup_pairs",
    f"""
WITH p AS (
  SELECT q.vec_id AS id_a, c.vec_id AS id_b,
    ROUND({_COSINE_EXPR.replace('q.qv', 'q.embedding')}, 6) AS cosine_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
)
SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim > 0.45
""",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup extension): exact
    all-pairs form as the correctness baseline; the LSH-bucketed form
    (operators.similarity.lsh_topk / rh_signature buckets) is the 100 TB
    path and is recall-tested against this in unit tests."""
    from fireball_data_processing_spark.operators.similarity import dot, norm

    # per-pair work is this query's whole cost (n^2 pairs): norms are
    # precomputed ONCE per vector (identical fold arithmetic to
    # cosine(), so the 6dp oracle parity is unchanged) — cosine()
    # inline would pay 3 interpreted 64-dim HOF folds per PAIR instead
    # of 1 (measured 64 s -> 25 s at sf0.1; see dot()'s docstring for
    # the unrolled-expression dead end)
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("__va"),
        norm(F.col("embedding")).alias("__na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("__vb"),
        norm(F.col("embedding")).alias("__nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    sim = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
    )
    return (
        pairs.select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") > 0.45)
    )


@query(
    "required_fields_filter",
    """
SELECT doc_id, lang, source FROM documents
WHERE text IS NOT NULL AND trim(text) <> ''
  AND lang IS NOT NULL AND source IS NOT NULL
  AND n_chars > 0
""",
)
def q_required_fields_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 required-keys filter (reference finetune_prep.py:38-48): drop
    rows where any required field is falsy."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.col("text").isNotNull()
        & (F.trim("text") != "")
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
        & (F.col("n_chars") > 0)
    ).select("doc_id", "lang", "source")


def _ivf_twophase_oracle(k: int, n_probe: int, n_cells: int, n_iter: int) -> str:
    """DuckDB replay of build_ivf_index(fit="replay") + ivf_query at
    full dimension: the unrolled-Lloyd fit over raw
    64-dim vectors (_kmeans_cte — the attested kmeans replay), then
    ivf_query's exact probe semantics — cells ranked by DOT PRODUCT to
    the rounded centroids, DESC with ties to the LARGER cell id (the
    operator's reverse(array_sort) over (sim, cell) structs), candidates
    from the probed cells' assignment rows, exact rounded cosine rerank
    with id tie-break."""
    cte, final = _kmeans_cte(n_cells, n_iter)
    return (
        cte
        + f""",
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
pd AS (
  SELECT q.query_id, c.cid,
    list_sum(list_transform(generate_series(1, 64),
             i -> q.qv[i] * c.cv[i])) AS dp
  FROM q, c{n_iter}f c
),
probe AS (
  SELECT query_id, cid FROM pd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY dp DESC, cid DESC) <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, q.qv, a.v AS cv
  FROM probe p
  JOIN {final} a ON a.cid = p.cid
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id
),
r AS (
  SELECT query_id, neighbor_id,
    ROUND({_sql_cosine("qv", "cv", 64)}, 6) AS cosine_sim
  FROM cand
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM r
) WHERE rank <= {k}
"""
    )


@query(
    "ivf_topk_neighbors",
    _ivf_twophase_oracle(k=5, n_probe=3, n_cells=8, n_iter=2),
)
# Oracle-checked: the two-phase build offers fit="replay" — the house
# deterministic Lloyd fit at FULL dimension — so the whole
# build+probe+rerank replays in SQL. The
# MLlib-backed build (kmeans|| init, unrounded JVM arithmetic — not
# SQL-replayable by nature) remains the fit="mllib" default and keeps
# its recall/determinism unit-test coverage (tests/test_units.py,
# test_clustering_profile.py); this row now value-hash-verifies the
# query phase it shares with that path.
def q_ivf_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors via the two-phase API: one
    coarse k-means build (amortized over all queries; path-backed builds
    get partition pruning) then a probe-cell query + exact rerank. The
    replayable fit makes every candidate and score oracle-checked;
    recall is additionally pinned against brute force in unit tests."""
    from fireball_data_processing_spark.operators.similarity import (
        build_ivf_index,
        ivf_query,
    )

    e = load_table(spark, sf_dir, "embeddings")
    index = build_ivf_index(e, n_centroids=8, fit="replay", n_iter=2)
    return ivf_query(index, e.filter(F.col("vec_id") < 10), k=5, n_probe=3)


# =====================================================================
# Event-time windows: gap sessions, tumbling buckets, exact percentiles
# =====================================================================


@query(
    "session_windows",
    """
WITH g AS (
  SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns,
    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts))
           OVER (PARTITION BY user_id ORDER BY event_id) > 1800000000000
           OR LAG(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
              IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, event_id, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  COUNT(*) AS n_events, ROUND(SUM(value), 6) AS session_value
FROM s GROUP BY user_id, session_id
""",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the canonical
    event-stream session-window operator — change-point on the time gap,
    running sum as session id, one exchange total. The Structured
    Streaming analog is `session_window(ts, '30 minutes')`."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_ns", F.col("ts")
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    gap = F.col("ts_ns") - F.lag("ts_ns").over(w)
    new_s = F.when(
        gap.isNull() | (gap > 1_800_000_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("session_value"),
    )


@query(
    "tumbling_hour_windows",
    """
SELECT user_id,
  epoch_ns(ts) // 3600000000000 AS hour_bucket,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 6) AS hour_value
FROM events
GROUP BY user_id, hour_bucket
""",
)
def q_tumbling_hour_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (1h) — the batch twin of the Structured
    Streaming `window(ts, '1 hour')` aggregation; integer bucket arithmetic
    on int64 nanos keeps it engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr("ts div 3600000000000").alias("hour_bucket")
    return ev.groupBy("user_id", bucket).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("hour_value"),
    )


@query(
    "value_percentiles",
    """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 6) AS p50,
  ROUND(quantile_cont(value, 0.95), 6) AS p95,
  ROUND(MAX(value), 6) AS pmax
FROM events GROUP BY event_type
""",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation matches across
    engines); at 100 TB swap for percentile_approx — the t-digest sketch is
    mergeable, the exact form is holistic."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.max("value"), 6).alias("pmax"),
    )


@query(
    "salted_hot_key_agg",
    """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total,
  ROUND(MIN(value), 6) AS vmin, ROUND(MAX(value), 6) AS vmax
FROM events GROUP BY event_type
""",
)
def q_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation: the 5-value event_type key is
    exactly the hot-key shape — phase 1 spreads each key over 16 salted
    reducers, phase 2 merges partials. Result is identical to the direct
    groupBy (the oracle is the direct form)."""
    from fireball_data_processing_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", "value"),
            "total": ("sum", "value"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
        num_salts=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("vmin", 6).alias("vmin"),
        F.round("vmax", 6).alias("vmax"),
    )


@query(
    "eval_metric_averages",
    """
WITH scored AS (
  SELECT doc_id, lang AS variant,
    ROUND(length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\\s+')), 6)
      AS pseudo_ppl,
    ROUND(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
          w -> length(w) > 6))::DOUBLE
      / len(regexp_split_to_array(trim(text), '\\s+')), 6) AS long_word_rate
  FROM documents
)
SELECT variant,
  COUNT(*) AS n_docs,
  ROUND(AVG(pseudo_ppl), 6) AS avg_pseudo_ppl,
  ROUND(AVG(long_word_rate), 6) AS avg_long_word_rate
FROM scored GROUP BY variant
""",
)
def q_eval_metric_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19/U6 eval-metric averaging (reference evaluate_sta_nar.py:17-44):
    per-row metrics then per-variant means. The model-based metrics
    (perplexity/BLEURT/BERTScore) plug in as pandas_udf scorers with this
    exact aggregation shape; deterministic text statistics stand in here."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    ppl = F.round(F.length("text").cast("double") / F.size(words), 6)
    lw = F.round(
        F.size(F.filter(words, lambda w: F.length(w) > 6)).cast("double")
        / F.size(words),
        6,
    )
    scored = d.select(
        F.col("lang").alias("variant"),
        ppl.alias("pseudo_ppl"),
        lw.alias("long_word_rate"),
    )
    return scored.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("pseudo_ppl"), 6).alias("avg_pseudo_ppl"),
        F.round(F.avg("long_word_rate"), 6).alias("avg_long_word_rate"),
    )


_MODEL_RATES = [
    ("davinci", 0.02),
    ("curie", 0.002),
    ("babbage", 0.0005),
    ("ada", 0.0004),
]


@query(
    "token_cost_estimate",
    f"""
WITH rates AS (
  SELECT * FROM (VALUES {", ".join(f"('{m}', {r})" for m, r in _MODEL_RATES)})
    AS t(model, usd_per_1k)
),
per_source AS (
  SELECT source, CAST(SUM(length(text) // 4) AS BIGINT) AS tokens
  FROM documents GROUP BY source
)
SELECT p.source, r.model, p.tokens,
  ROUND(p.tokens / 1000.0 * r.usd_per_1k, 6) AS est_cost_usd
FROM per_source p CROSS JOIN rates r
""",
)
def q_token_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17/A16 corpus cost accounting (reference
    scripts/count_num_chars_in_dataset.py:17-26,89-93 and
    finetune_prep.py:223-228): chars/4 tokens per source x a broadcast
    model-rate lookup."""
    from fireball_data_processing_spark.functions.textstats import (
        approx_token_count_chars,
    )

    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(approx_token_count_chars(F.col("text"))).alias("tokens")
    )
    rates = spark.createDataFrame(_MODEL_RATES, "model string, usd_per_1k double")
    return per_source.crossJoin(F.broadcast(rates)).select(
        "source",
        "model",
        "tokens",
        F.round(F.col("tokens") / 1000.0 * F.col("usd_per_1k"), 6).alias(
            "est_cost_usd"
        ),
    )


@query(
    "event_type_pivot",
    """
SELECT user_id,
  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
FROM events GROUP BY user_id
""",
)
def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's long->wide matrix assembly (dataset/dataset.py:68-71)
    as groupBy().pivot(): values are declared up front so Spark skips the
    extra distinct-values pass — the scale-correct pivot form."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "fb_struct_key_join",
    """
WITH preds AS (
  SELECT * FROM (VALUES
    ({'scene': 'a', 'turn': 1}, 'pred-1'),
    ({'scene': 'a', 'turn': 2}, 'pred-2'),
    ({'scene': 'b', 'turn': 1}, 'pred-3'),
    ({'scene': 'zz', 'turn': 9}, 'pred-orphan')
  ) AS t(key, prediction)
),
canon AS (
  SELECT * FROM (VALUES
    ({'scene': 'a', 'turn': 1}, 'gold-1'),
    ({'scene': 'a', 'turn': 2}, 'gold-2'),
    ({'scene': 'b', 'turn': 1}, 'gold-3'),
    ({'scene': 'c', 'turn': 4}, 'gold-unmatched')
  ) AS t(key, gold)
)
SELECT p.key.scene AS scene, p.key.turn AS turn, p.prediction, c.gold
FROM preds p JOIN canon c ON p.key = c.key
""",
)
def q_fb_struct_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 prediction-to-canonical matching (reference
    results/merge_results.py:65-69): equi-join on a composite nested key —
    struct equality is native in Spark, no key flattening needed."""
    preds = spark.createDataFrame(
        [(("a", 1), "pred-1"), (("a", 2), "pred-2"), (("b", 1), "pred-3"),
         (("zz", 9), "pred-orphan")],
        "key struct<scene:string,turn:int>, prediction string",
    )
    canon = spark.createDataFrame(
        [(("a", 1), "gold-1"), (("a", 2), "gold-2"), (("b", 1), "gold-3"),
         (("c", 4), "gold-unmatched")],
        "key struct<scene:string,turn:int>, gold string",
    )
    j = preds.join(canon, preds["key"] == canon["key"])
    return j.select(
        preds["key.scene"].alias("scene"),
        preds["key.turn"].alias("turn"),
        "prediction",
        "gold",
    )


@query(
    "count_errors_after_purchase",
    """
WITH t AS (
  SELECT event_id, user_id, event_type,
    COUNT(CASE WHEN event_type = 'error' THEN 1 END)
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN 1 FOLLOWING AND 50 FOLLOWING) AS n_errors
  FROM events
)
SELECT event_id, user_id, n_errors
FROM t WHERE event_type = 'purchase'
""",
)
def q_count_errors_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 `find_all` (reference heuristics/utils.py:140-148): ALL events
    matching a predicate within the bounded window after each anchor —
    the counting companion to the `find` query."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("event_id").rowsBetween(1, 50)
    )
    n = F.count(F.when(F.col("event_type") == "error", 1)).over(w)
    return (
        ev.withColumn("n_errors", n)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "n_errors")
    )


@query(
    "doc_language_guess",
    """
WITH s AS (
  SELECT doc_id, lang AS labeled_lang,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        x -> x IN ('the','and','is','of'))) AS s_en,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        x -> x IN ('el','la','que','de'))) AS s_es,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        x -> x IN ('der','die','und','nicht'))) AS s_de,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        x -> x IN ('le','la','et','les'))) AS s_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
  CASE WHEN GREATEST(s_en, s_es, s_de, s_fr) = 0 THEN 'unknown'
       WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr) THEN 'en'
       WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr) THEN 'es'
       WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr) THEN 'de'
       ELSE 'fr' END AS guessed_lang
FROM s
""",
)
def q_doc_language_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID argmax over marker scores with a deterministic
    first-match tie order (en > es > de > fr) and an 'unknown' floor."""
    from fireball_data_processing_spark.functions.textstats import lang_scores

    d = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    m = F.greatest(*scores.values())
    guess = F.when(m == 0, F.lit("unknown"))
    for lang, expr in scores.items():
        guess = guess.when(expr == m, F.lit(lang))
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), guess.alias("guessed_lang")
    )


@query(
    "words_per_signup_segment",
    """
WITH seg AS (
  SELECT user_id, event_type, value,
    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id,
    MAX(CASE WHEN event_type = 'signup' THEN event_id END)
      OVER (PARTITION BY user_id) AS last_sig,
    event_id
  FROM events
)
SELECT user_id,
  ROUND(CASE WHEN COUNT(CASE WHEN event_type = 'signup' THEN 1 END) > 0
    THEN COALESCE(SUM(CASE WHEN event_type = 'view' AND event_id < last_sig
                       THEN value END), 0)::DOUBLE
       / COUNT(CASE WHEN event_type = 'signup' THEN 1 END)::DOUBLE END, 6)
    AS avg_measure_per_turn
FROM seg GROUP BY user_id
""",
)
def q_words_per_signup_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 num_words_per_turn (reference heuristics/zhu.py:103-117): the
    same closed-segment sessionization as A12 but keyed on a different
    delimiter role (signup standing in for `init next`), excluding the
    unterminated trailing segment."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w_inst = Window.partitionBy("user_id")
    last_sig = F.max(
        F.when(F.col("event_type") == "signup", F.col("event_id"))
    ).over(w_inst)
    feat = ev.withColumn("last_sig", last_sig)
    n_sig = F.count(F.when(F.col("event_type") == "signup", 1))
    closed = F.coalesce(
        F.sum(
            F.when(
                (F.col("event_type") == "view")
                & (F.col("event_id") < F.col("last_sig")),
                F.col("value"),
            )
        ),
        F.lit(0.0),
    )
    return feat.groupBy("user_id").agg(
        F.round(
            F.when(n_sig > 0, closed / n_sig.cast("double")), 6
        ).alias("avg_measure_per_turn")
    )


# =====================================================================
# Text retrieval (LLM-pipeline extension): BM25 search + TF-IDF summary
# =====================================================================

_BM25_QUERIES = (
    (1, "spark window aggregation"),
    (2, "hash join shuffle partition"),
    (3, "stream batch query"),
)

_BM25_ORACLE = _BM25_POSTINGS_CTE + """,
scored AS (
  SELECT qt.query_id, post.doc_id,
    ROUND(SUM(
      LN(1 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
      * (post.tf * (1.2 + 1.0))
        / (post.tf + 1.2 * (1 - 0.75 + 0.75 * post.dl / stats.avgdl))
    ), 6) AS score
  FROM post
  JOIN dft USING (term) CROSS JOIN stats JOIN qt USING (term)
  GROUP BY qt.query_id, post.doc_id
)
SELECT query_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
         AS "rank",
       doc_id, score
FROM scored
QUALIFY "rank" <= 5
"""


@query("bm25_search", _BM25_ORACLE)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval over the document corpus — the lexical
    search layer a training-data pipeline needs for contamination
    forensics and topical slicing (extends the reference's per-doc corpus
    stats, `count_num_chars_in_dataset.py`, to corpus-wide ranked search).
    Query terms broadcast; postings filtered to them right after the
    explode, so cost tracks matches, not corpus vocabulary."""
    from fireball_data_processing_spark.operators.retrieval import bm25_search

    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(list(_BM25_QUERIES), ["query_id", "query_text"])
    return bm25_search(d, q, k=5).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


def _documents_key(sf_dir: str) -> str:
    """Cache key for what is built from the documents table (trained BPE
    merges, the BM25 postings index): the table's file-level checksum
    (path + length + mtime via ``sources/checksum.py``), NOT the
    ``sf_dir`` string — a path-keyed cache would serve stale results if
    the table under a fixed path were rewritten within one process
    lifetime (pinned in tests/test_bpe.py and tests/test_retrieval.py).
    One driver-side file listing, no data read."""
    from fireball_data_processing_spark.sources.checksum import dataset_checksum, list_files

    return dataset_checksum(list_files(sf_dir, "documents.parquet"))


# sf_dir -> (documents key, index directory). A rewritten table gets a new
# index and the replaced directory is removed; the rest go at exit.
_BM25_INDEX_CACHE: dict[str, tuple[str, str]] = {}


def _drop_bm25_indexes() -> None:
    for _, path in _BM25_INDEX_CACHE.values():
        shutil.rmtree(path, ignore_errors=True)
    _BM25_INDEX_CACHE.clear()


atexit.register(_drop_bm25_indexes)


@query("bm25_search_indexed", _BM25_ORACLE)
def q_bm25_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized BM25 path: the corpus is tokenized ONCE into a
    term-bucketed postings index (parquet, pmod(hash(term)) partition
    column) and every later search prunes its scan to the partitions
    holding the query vocabulary — what makes repeated search affordable
    on a 100 TB corpus. Must rank identically to the direct bm25_search
    (same oracle); the index build is memoized per corpus like the BPE
    merges, so catalog enumeration pays the build once."""
    import tempfile

    from fireball_data_processing_spark.operators.retrieval import (
        bm25_search_from_index,
        build_postings_index,
    )

    key = _documents_key(sf_dir)
    hit = _BM25_INDEX_CACHE.get(sf_dir)
    if hit is None or hit[0] != key:
        if hit is not None:
            shutil.rmtree(hit[1], ignore_errors=True)
        path = tempfile.mkdtemp(prefix="fb_bm25_index_")
        build_postings_index(load_table(spark, sf_dir, "documents"), path)
        hit = _BM25_INDEX_CACHE[sf_dir] = (key, path)
    q = spark.createDataFrame(list(_BM25_QUERIES), ["query_id", "query_text"])
    return bm25_search_from_index(spark, hit[1], q, k=5).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


_TFIDF_ORACLE = """
WITH """ + _DOC_TERMS_CTE + """,
exploded AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok),
post AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM exploded GROUP BY doc_id, dl, term
),
dft AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term HAVING COUNT(*) >= 2),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
weighted AS (
  SELECT post.doc_id, post.term,
    ROUND((post.tf::DOUBLE / post.dl) * LN(n.n_docs::DOUBLE / dft.df), 6)
      AS weight
  FROM post JOIN dft USING (term) CROSS JOIN n
)
SELECT doc_id,
       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, term)
         AS "rank",
       term, weight
FROM weighted
QUALIFY "rank" <= 3
"""


@query("tf_idf_top_terms", _TFIDF_ORACLE)
def q_tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: the "what is this doc about"
    summary used for corpus browsing and mixture audits. Full-vocabulary
    document frequency is one self-aggregation of the postings."""
    from fireball_data_processing_spark.operators.retrieval import tf_idf_top_terms

    d = load_table(spark, sf_dir, "documents")
    return tf_idf_top_terms(d, top_n=3, min_df=2).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


_PMI_ORACLE = """
WITH tok AS (
  SELECT list_slice(list_sort(list_distinct(
           regexp_extract_all(lower(text), '[a-z0-9]+'))), 1, 128) AS terms,
         ROW_NUMBER() OVER () AS rid
  FROM documents
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
tt AS (SELECT rid, unnest(terms) AS term FROM tok),
singles AS (SELECT term, COUNT(*) AS df FROM tt GROUP BY term),
pairs AS (
  SELECT a.term AS ta, b.term AS tb, COUNT(*) AS n_ab
  FROM tt a JOIN tt b ON a.rid = b.rid AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING COUNT(*) >= 5
)
SELECT pairs.ta, pairs.tb, pairs.n_ab, sa.df AS df_a, sb.df AS df_b,
  ROUND(LN(pairs.n_ab::DOUBLE * n.n_docs / (sa.df::DOUBLE * sb.df)), 6)
    AS pmi
FROM pairs
JOIN singles sa ON sa.term = pairs.ta
JOIN singles sb ON sb.term = pairs.tb
CROSS JOIN n
"""


@query("token_pmi_collocations", _PMI_ORACLE)
def q_token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI collocations over the corpus vocabulary —
    phrase/merge-pair mining for tokenizer and vocabulary work (extends
    the reference's corpus statistics). Pairs are generated per row with
    higher-order functions (no self-join, no duplicated tokenize
    subtree); term document frequencies ride the same single aggregation
    and reach pair rows via windows."""
    from fireball_data_processing_spark.operators.collocations import doc_pmi

    d = load_table(spark, sf_dir, "documents")
    return doc_pmi(d, min_pair_count=5, max_terms=128)


_DSIR_B = 512

_DSIR_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tgt AS (SELECT toks FROM raw JOIN documents USING (doc_id)
        WHERE lang = 'en' AND source = 'src1'),
rg AS (
  SELECT doc_id,
    ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 8))::BIGINT % {_DSIR_B}
      AS bucket
  FROM raw, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
),
tg AS (
  SELECT ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 8))::BIGINT
           % {_DSIR_B} AS bucket
  FROM tgt, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
),
rd AS (SELECT bucket, COUNT(*) AS r_n FROM rg GROUP BY bucket),
td AS (SELECT bucket, COUNT(*) AS t_n FROM tg GROUP BY bucket),
merged AS (
  SELECT COALESCE(rd.bucket, td.bucket) AS bucket,
         COALESCE(r_n, 0) AS r_n, COALESCE(t_n, 0) AS t_n
  FROM rd FULL JOIN td ON rd.bucket = td.bucket
),
ratios AS (
  SELECT bucket,
    LN((t_n + 1)::DOUBLE / (SUM(t_n) OVER () + {_DSIR_B}))
      - LN((r_n + 1)::DOUBLE / (SUM(r_n) OVER () + {_DSIR_B})) AS log_ratio
  FROM merged
)
SELECT rg.doc_id, COUNT(*) AS n_grams,
       ROUND(SUM(log_ratio), 6) AS log_weight
FROM rg JOIN ratios USING (bucket)
GROUP BY rg.doc_id
"""


@query("dsir_selection_weights", _DSIR_ORACLE)
def q_dsir_selection_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampling data selection (Xie et al. 2023 DSIR):
    hashed-bigram importance log-weights of every document against a
    target domain sample (here: lang='en' AND source='src1'). The bucket
    distributions are aggregate-sized and broadcast; scoring is one
    explode + one broadcast join + one groupBy. Selection = keep the
    top-weight slice."""
    from fireball_data_processing_spark.operators.selection import (
        dsir_log_weights,
    )

    d = load_table(spark, sf_dir, "documents")
    target = d.filter((F.col("lang") == "en") & (F.col("source") == "src1"))
    return dsir_log_weights(d, target, n_buckets=_DSIR_B, gram_n=2)


_BUDGET_FILL_ORACLE = """
WITH w AS (
  SELECT doc_id,
    regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
),
q AS (
  SELECT doc_id,
    len(words)::BIGINT AS n_tokens,
    ROUND(len(list_filter(words, x -> list_contains(
      ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
      ::DOUBLE / len(words), 6) AS quality
  FROM w
),
c AS (
  SELECT doc_id, quality, n_tokens,
    SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM q
)
SELECT doc_id, quality, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 12000
"""


@query("token_budget_fill", _BUDGET_FILL_ORACLE)
def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained-scaling selection (Muennighoff et al. 2023):
    fill a 12k-token training budget with the highest-quality documents
    first (quality = stop-word ratio, the classic natural-text signal;
    deterministic doc_id tie-break). `budget_fill`
    (operators/selection.py) is the scalable two-phase prefix sum: the
    oracle's single global window would collapse Spark to one partition
    at corpus scale, so the engine coarse-buckets by score, computes
    bucket offsets over an n_buckets-row frame, and runs the per-row
    cumulative window PARTITIONED by bucket — bucketing-invariant, so
    the plain-window SQL stays the exact oracle."""
    from fireball_data_processing_spark.functions.textstats import quality_features
    from fireball_data_processing_spark.operators.selection import budget_fill

    d = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    base = d.select(
        "doc_id",
        F.round(feats["stopword_ratio"], 6).alias("quality"),
        feats["n_words"].alias("n_tokens"),
    )
    out = budget_fill(
        base, "quality", "n_tokens", "doc_id", budget=12_000, cum_col="cum_tokens"
    )
    return out.select("doc_id", "quality", "n_tokens", "cum_tokens")


_LEAKAGE_SPLIT_ORACLE = _LSH_CLOSURE_CTE + """,
canon AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
all_docs AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
),
s AS (
  SELECT doc_id, cluster_id,
    CASE WHEN ('0x' || substr(md5('v1' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
              / 4294967296.0 < 0.25
         THEN 'test' ELSE 'train' END AS split
  FROM all_docs
)
SELECT split, COUNT(*)::BIGINT AS n_docs,
       COUNT(DISTINCT cluster_id)::BIGINT AS n_clusters
FROM s GROUP BY split
"""


@query("leakage_safe_split", _LEAKAGE_SPLIT_ORACLE)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate documents must never
    straddle the split (else eval leaks training text — the GPT-3-era
    contamination failure), so the split key is the near-dup CLUSTER, not
    the document: MinHash -> LSH candidate pairs -> connected components
    -> every doc hashed into its split by its cluster canonical id
    (singletons are their own cluster). Same md5 hash-rank split as
    `train_test_split_counts`, so the whole family shares one
    deterministic split function. Components are the iterative min-label
    propagation (the oracle closes the same graph with a recursive CTE)."""
    from fireball_data_processing_spark.operators.sampling import (
        deterministic_split,
    )

    d = load_table(spark, sf_dir, "documents")
    comp = _lsh_components(d)
    canon = (
        d.select("doc_id")
        .join(comp, d["doc_id"] == comp["vertex"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    split = deterministic_split(canon, F.col("cluster_id"), 0.25, salt="v1")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )


_DRIFT_ORACLE = """
WITH b AS (SELECT source AS bucket, COUNT(*) AS n_before FROM documents
           WHERE doc_id % 2 = 0 GROUP BY source),
a AS (SELECT source AS bucket, COUNT(*) AS n_after FROM documents
      WHERE doc_id % 2 = 1 GROUP BY source),
m AS (
  SELECT COALESCE(b.bucket, a.bucket) AS bucket,
         COALESCE(n_before, 0) AS n_before,
         COALESCE(n_after, 0) AS n_after
  FROM b FULL JOIN a ON b.bucket IS NOT DISTINCT FROM a.bucket
),
s AS (
  SELECT *,
    (n_before + 1)::DOUBLE / (SUM(n_before) OVER () + COUNT(*) OVER ()) AS p,
    (n_after + 1)::DOUBLE / (SUM(n_after) OVER () + COUNT(*) OVER ()) AS q
  FROM m
)
SELECT bucket, n_before, n_after,
       ROUND(p, 6) AS p_before, ROUND(q, 6) AS p_after,
       ROUND((q - p) * LN(q / p), 6) AS psi_term,
       ROUND(p * LN(p / q), 6) AS kl_term
FROM s
"""


@query("source_distribution_drift", _DRIFT_ORACLE)
def q_source_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (PSI + KL per bucket) of the corpus source mix
    between two snapshots — here the deterministic even/odd doc_id halves
    stand in for consecutive ingests. Both sides reduce to aggregate-
    sized share tables; smoothing keeps appearing/vanishing sources
    finite. Total PSI = sum(psi_term)."""
    from fireball_data_processing_spark.operators.drift import (
        distribution_drift,
    )

    d = load_table(spark, sf_dir, "documents")
    before = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    after = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return distribution_drift(before, after, F.col("source"))


_BPE_MERGES_CACHE: dict[str, list] = {}


# the training word table's floor and size: the Spark fit and both
# oracles read the same two numbers
_BPE_MIN_COUNT = 2
_BPE_TOP_N = 65_536


def _bpe_merges_for(spark: SparkSession, sf_dir: str) -> list:
    """The shared 64-merge greedy fit for a corpus, memoized on corpus
    identity. min_count + top_n bound the driver-side collect:
    vocabulary-sized by construction, never corpus-cardinality-sized."""
    from fireball_data_processing_spark.functions.bpe import (
        train_bpe,
        word_frequencies,
    )

    key = _documents_key(sf_dir)
    if key not in _BPE_MERGES_CACHE:
        d = load_table(spark, sf_dir, "documents")
        wf_df = word_frequencies(d, min_count=_BPE_MIN_COUNT, top_n=_BPE_TOP_N)
        wf = [(r.word, r.n) for r in wf_df.collect()]
        _BPE_MERGES_CACHE[key] = train_bpe(sorted(wf), n_merges=64)
    return _BPE_MERGES_CACHE[key]


def _bpe_train_ctes(n_merges: int) -> str:
    """The WITH-chain replaying greedy BPE-merge training (shared by the
    merge-table oracle and the merge-APPLICATION oracle). Returns
    everything from ``WITH tok AS (...`` through the final vocab CTE
    ``v{n_merges}`` — callers append their own terminal CTEs/SELECT.
    Replays `functions/bpe.py train_bpe` over the
    `word_frequencies(_BPE_MIN_COUNT, _BPE_TOP_N)` table exactly:

    - per step: adjacent-pair counts weighted by word frequency (each
      occurrence is a summand, like the Python zip loop), argmax with
      the trainer's (count DESC, pair lexicographic ASC) tie-break —
      ASCII-only symbols, so DuckDB's binary collation equals Python's
      codepoint tuple compare;
    - vocab rewrite: leftmost-greedy non-overlapping pair merge,
      expressed as gaps-and-islands parity — within each maximal run of
      consecutive flagged positions, odd offsets merge and even ones
      are consumed, which is exactly the Python scan's behavior (runs
      longer than 1 only occur for self-pairs (x, x));
    - every v{t}/bp{t} CTE is MATERIALIZED: v{t} is referenced by both
      the next step's pair count and its explode, and DuckDB inlines
      plain CTEs — the BT-oracle lesson, pinned in tests.

    The tuple->word mapping stays injective at every step (symbols
    concatenate back to word + '</w>'), so the SQL GROUP BY word and
    the Python dict keyed by symbol tuples can never disagree on
    collisions — there are none."""
    parts = [f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
wf0 AS (
  SELECT word, COUNT(*)::BIGINT AS n FROM tok GROUP BY word
  HAVING COUNT(*) >= {_BPE_MIN_COUNT}
),
wf AS (SELECT word, n FROM wf0 ORDER BY n DESC, word ASC LIMIT {_BPE_TOP_N}),
v0 AS MATERIALIZED (
  SELECT word, n,
    list_transform(generate_series(1, length(word)),
      i -> CASE WHEN i = length(word)
           THEN substr(word, i, 1) || '</w>'
           ELSE substr(word, i, 1) END) AS syms
  FROM wf
)"""]
    for t in range(1, n_merges + 1):
        p = t - 1
        parts.append(f""",
pc{t} AS (
  SELECT s.syms[u.i] AS l, s.syms[u.i + 1] AS r, SUM(s.n)::BIGINT AS cnt
  FROM v{p} s, UNNEST(generate_series(1, len(s.syms) - 1)) AS u(i)
  WHERE len(s.syms) >= 2
  GROUP BY 1, 2
),
bp{t} AS MATERIALIZED (
  SELECT l, r FROM pc{t} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
),
e{t} AS (
  SELECT s.word, s.n, u.i AS pos, s.syms[u.i] AS sym,
    (u.i < len(s.syms) AND s.syms[u.i] = bp.l AND s.syms[u.i + 1] = bp.r) AS flg
  FROM v{p} s CROSS JOIN bp{t} bp,
       UNNEST(generate_series(1, len(s.syms))) AS u(i)
),
g{t} AS (
  SELECT *, CASE WHEN flg THEN
    pos - ROW_NUMBER() OVER (PARTITION BY word, flg ORDER BY pos) END AS grp
  FROM e{t}
),
m{t} AS (
  SELECT word, n, pos, sym,
    CASE WHEN flg THEN
      (ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) % 2 = 1)
    ELSE FALSE END AS do_merge
  FROM g{t}
),
r{t} AS (
  SELECT word, n, pos, sym, do_merge,
    LAG(do_merge, 1, FALSE) OVER (PARTITION BY word ORDER BY pos) AS prev_merged,
    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS next_sym
  FROM m{t}
),
v{t} AS MATERIALIZED (
  SELECT word, any_value(n) AS n,
    list(CASE WHEN do_merge THEN sym || next_sym ELSE sym END ORDER BY pos) AS syms
  FROM r{t} WHERE NOT prev_merged
  GROUP BY word
)""")
    return "".join(parts)


def _bpe_merge_oracle(n_merges: int) -> str:
    """The trained merge table as one DuckDB statement: the training
    replay chain (:func:`_bpe_train_ctes`) + one UNION ALL over the
    per-step argmax CTEs."""
    sel = "\nUNION ALL ".join(
        f"SELECT {t}::BIGINT AS merge_rank, l AS left_sym, r AS right_sym"
        f" FROM bp{t}"
        for t in range(1, n_merges + 1)
    )
    return _bpe_train_ctes(n_merges) + "\n" + sel


def _bpe_apply_ctes(n_merges: int = 16, n_apply: int = 8) -> str:
    """Merge APPLICATION unrolled on top of the training replay (the
    same unrollable shape as training, per its docstring: "a per-word
    loop bounded by word length"). Returns the WITH-chain through ``wtok``
    (word -> final BPE token count);
    callers append their terminal SELECT (per-doc counts for
    `bpe_token_stats`, the per-word histogram for
    `bpe_token_histogram`).

    Application (`functions/bpe.py apply_merges`) differs from training
    in one step only: each iteration merges the LOWEST-RANK adjacent
    pair present in the trained table (per word), instead of the
    globally most-frequent pair — so the rewrite CTEs are identical to
    training's gaps-and-islands parity rewrite, with the global
    ``CROSS JOIN bp{t}`` replaced by a per-word ``LEFT JOIN`` on the
    word's own best pair. Words with no ranked pair pass through
    unchanged, so exhausted words are fixed points and extra unrolled
    steps are no-ops. Each iteration shortens a word by >= 1 symbol,
    so ``n_apply`` steps suffice for any word of length <= n_apply
    (the synthetic corpus' max token length is 8 at every SF — asserted
    in tests/test_bpe.py so a testdata regeneration that breaks the
    bound fails loudly instead of silently mis-counting).

    The application vocabulary is ALL distinct corpus words (training's
    min_count/top_n floor bounds only what's COLLECTED for training;
    the tokenizer is applied to every word, exactly like the UDF)."""
    parts = [_bpe_train_ctes(n_merges)]
    mt = "\nUNION ALL ".join(
        f"SELECT {t}::BIGINT AS rank, l, r FROM bp{t}"
        for t in range(1, n_merges + 1)
    )
    parts.append(f""",
mt AS MATERIALIZED (
{mt}
),
a0 AS MATERIALIZED (
  SELECT word,
    list_transform(generate_series(1, length(word)),
      i -> CASE WHEN i = length(word)
           THEN substr(word, i, 1) || '</w>'
           ELSE substr(word, i, 1) END) AS syms
  FROM (SELECT DISTINCT word FROM tok)
)""")
    for t in range(1, n_apply + 1):
        p = t - 1
        parts.append(f""",
ab{t} AS MATERIALIZED (
  SELECT word, l, r FROM (
    SELECT s.word, m.rank, m.l, m.r,
      ROW_NUMBER() OVER (PARTITION BY s.word ORDER BY m.rank) AS rn
    FROM a{p} s, UNNEST(generate_series(1, len(s.syms) - 1)) AS u(i)
    JOIN mt m ON m.l = s.syms[u.i] AND m.r = s.syms[u.i + 1]
    WHERE len(s.syms) >= 2
  ) WHERE rn = 1
),
ae{t} AS (
  SELECT s.word, u.i AS pos, s.syms[u.i] AS sym,
    (b.word IS NOT NULL AND u.i < len(s.syms)
     AND s.syms[u.i] = b.l AND s.syms[u.i + 1] = b.r) AS flg
  FROM a{p} s LEFT JOIN ab{t} b ON b.word = s.word,
       UNNEST(generate_series(1, len(s.syms))) AS u(i)
),
ag{t} AS (
  SELECT *, CASE WHEN flg THEN
    pos - ROW_NUMBER() OVER (PARTITION BY word, flg ORDER BY pos) END AS grp
  FROM ae{t}
),
am{t} AS (
  SELECT word, pos, sym,
    CASE WHEN flg THEN
      (ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) % 2 = 1)
    ELSE FALSE END AS do_merge
  FROM ag{t}
),
ar{t} AS (
  SELECT word, pos, sym, do_merge,
    LAG(do_merge, 1, FALSE) OVER (PARTITION BY word ORDER BY pos) AS prev_merged,
    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS next_sym
  FROM am{t}
),
a{t} AS MATERIALIZED (
  SELECT word,
    list(CASE WHEN do_merge THEN sym || next_sym ELSE sym END ORDER BY pos) AS syms
  FROM ar{t} WHERE NOT prev_merged
  GROUP BY word
)""")
    parts.append(f""",
wtok AS MATERIALIZED (
  SELECT word, len(syms)::BIGINT AS n_toks FROM a{n_apply}
)""")
    return "".join(parts)


def _bpe_apply_oracle(n_merges: int = 16, n_apply: int = 8) -> str:
    """Per-doc BPE token counts: the application chain
    (:func:`_bpe_apply_ctes`) + one explode-join-sum over documents."""
    return _bpe_apply_ctes(n_merges, n_apply) + """,
dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
db AS (
  SELECT doc_id, SUM(w.n_toks)::BIGINT AS n_bpe FROM dw
  JOIN wtok w USING (word) GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(b.n_bpe, 0)::BIGINT AS n_bpe_tokens,
  len(regexp_split_to_array(trim(d.text), '\\s+'))::BIGINT AS n_words
FROM documents d LEFT JOIN db b ON b.doc_id = d.doc_id"""


def _bpe_token_hist_oracle(n_merges: int = 16, n_apply: int = 8) -> str:
    """Tokenizer-quality histogram: distinct corpus words and total
    token OCCURRENCES grouped by how many BPE tokens the trained
    16-merge fit leaves per word — the vocabulary-coverage diagnostic a
    tokenizer team reads before freezing a vocab (n_toks = 1 means the
    word is a single vocabulary entry; the n_occurrences mass at
    n_toks = 1 is the corpus coverage)."""
    return _bpe_apply_ctes(n_merges, n_apply) + """,
wc AS (SELECT word, COUNT(*)::BIGINT AS n FROM tok GROUP BY word)
SELECT w.n_toks,
  COUNT(*)::BIGINT AS n_words,
  SUM(c.n)::BIGINT AS n_occurrences
FROM wtok w JOIN wc c USING (word)
GROUP BY w.n_toks"""


@query("bpe_token_stats", _bpe_apply_oracle(16, n_apply=8))
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer round trip at corpus scale, ORACLE-CHECKED end to
    end: ONE distributed pass counts word frequencies
    (vocabulary-sized result), greedy merge training runs on that
    compact table driver-side (the same split single-node tokenizer
    libraries use), and application is an Arrow-batched pandas UDF. The
    DuckDB oracle replays BOTH halves — the 16-step training unroll
    (`_bpe_train_ctes`) and merge application unrolled to the corpus
    max word length (`_bpe_apply_oracle`: per-word lowest-rank-first
    merging, the training rewrite with the global argmax swapped for a
    per-word rank-min). Greedy training is prefix-stable, so the first
    16 of the shared 64-merge cache ARE the 16-merge fit the oracle
    trains."""
    from fireball_data_processing_spark.functions.bpe import bpe_tokens_udf

    d = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges_for(spark, sf_dir)[:16]
    toks = bpe_tokens_udf(merges)(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_words"),
    )


@query("bpe_merge_table", _bpe_merge_oracle(16))
def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge list itself, ORACLE-CHECKED: distributed
    word counting feeds the driver-side
    greedy trainer (`functions/bpe.py`, vocabulary-sized input per the
    bounded-model-state contract), and the DuckDB oracle REPLAYS the
    training — 16 unrolled merge steps, each a pair-count aggregate +
    (count DESC, pair ASC) argmax + leftmost-greedy vocab rewrite via
    gaps-and-islands parity (see `_bpe_train_ctes`). Greedy training
    is prefix-stable, so the first 16 of the shared 64-merge cache ARE
    the 16-merge fit; `bpe_token_stats` (merge APPLICATION per doc) is
    oracle-checked too (`_bpe_apply_oracle`)."""
    merges = _bpe_merges_for(spark, sf_dir)[:16]
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank bigint, left_sym string, right_sym string",
    )


@query("bpe_token_histogram", _bpe_token_hist_oracle(16, n_apply=8))
def q_bpe_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage histogram of the trained tokenizer: for
    each tokens-per-word count under the 16-merge fit, how many DISTINCT
    corpus words land there and how much token-occurrence MASS they
    carry. This is the diagnostic that decides when a vocab is big
    enough (the reference sizes prompts by token cost,
    finetune_prep.py:223-228; a production tokenizer team reads exactly
    this table before freezing). Plan: one explode+groupBy word count
    (the corpus-sized pass, shared shape with `word_frequencies`), the
    Arrow-batched merge UDF over the DISTINCT-word table — vocabulary-
    sized, NOT corpus-sized, the same asymmetry that makes BPE training
    distributable — then one small aggregate. Oracle: the 16-step
    training replay + 8-step application unroll, grouped per word
    (`_bpe_token_hist_oracle`)."""
    from fireball_data_processing_spark.functions.bpe import (
        bpe_tokens_udf,
        word_frequencies,
    )

    d = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges_for(spark, sf_dir)[:16]
    # min_count=1: the histogram describes the WHOLE corpus vocabulary,
    # including hapax words the training floor excluded
    words = word_frequencies(d, min_count=1)
    # the UDF tokenizes arbitrary text; a bare [a-z0-9]+ word is its own
    # single regex token, so applying it to the word column yields the
    # word's merge sequence directly
    n_toks = F.size(bpe_tokens_udf(merges)(F.col("word"))).cast("bigint")
    return (
        words.withColumn("n_toks", n_toks)
        .groupBy("n_toks")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n").cast("bigint").alias("n_occurrences"),
        )
    )


_INCR_ORACLE = """
SELECT user_id,
  COUNT(*) AS event_count,
  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS message_count,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS command_count,
  CASE WHEN COUNT(CASE WHEN event_type = 'view' THEN 1 END) > 0 THEN
    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::DOUBLE
      / COUNT(CASE WHEN event_type = 'view' THEN 1 END)::DOUBLE END
    AS message_to_command_ratio,
  ROUND(CASE WHEN COUNT(CASE WHEN event_type = 'view' THEN value END) > 0 THEN
    COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0)::DOUBLE
      / COUNT(CASE WHEN event_type = 'view' THEN value END)::DOUBLE
    ELSE 0.0 END, 6) AS average_message_length,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS num_turns,
  ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0)::DOUBLE
    / (COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) + 1)::DOUBLE, 6)
    AS avg_words_between_commands
FROM events
GROUP BY user_id
"""


@query("incremental_heuristics_merge", _INCR_ORACLE)
def q_incremental_heuristics_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus growth without recompute: heuristic PARTIALS
    computed separately on two interleaved chunks (instances cut
    mid-stream — the hard case), merged (sums add, sketches union), and
    finalized. The oracle aggregates the events directly: merge
    invariance IS the property under test. The mergeable-sketch
    participants estimate is exercised in tests (DuckDB has no
    DataSketches HLL to compare against)."""
    from fireball_data_processing_spark.plans.incremental import (
        finalize_heuristics,
        heuristic_partials,
        merge_heuristic_partials,
    )
    from fireball_data_processing_spark.schema import SYNTHETIC_STREAM as S

    ev = load_table(spark, sf_dir, "events")
    c1 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) != 0)
    c2 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 0)
    out = finalize_heuristics(
        merge_heuristic_partials(
            S, heuristic_partials(c1, S), heuristic_partials(c2, S)
        )
    )
    return out.select(
        "user_id",
        "event_count",
        "message_count",
        "command_count",
        "message_to_command_ratio",
        F.round("average_message_length", 6).alias("average_message_length"),
        "num_turns",
        F.round("avg_words_between_commands", 6).alias(
            "avg_words_between_commands"
        ),
    )


_WDRIFT_ORACLE = """
WITH wc AS (
  SELECT epoch_ns(ts) // 3600000000000 AS window_start,
         event_type AS bucket, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
base AS (SELECT event_type AS bucket, COUNT(*) AS n FROM events GROUP BY 1),
buckets AS (SELECT bucket FROM base UNION SELECT bucket FROM wc),
grid AS (
  SELECT w.window_start, b.bucket
  FROM (SELECT DISTINCT window_start FROM wc) w CROSS JOIN buckets b
),
filled AS (
  SELECT g.window_start, g.bucket,
         COALESCE(base.n, 0) AS n_base, COALESCE(wc.n, 0) AS n_win
  FROM grid g
  LEFT JOIN base ON base.bucket = g.bucket
  LEFT JOIN wc ON wc.window_start = g.window_start AND wc.bucket = g.bucket
),
shares AS (
  SELECT *,
    (n_base + 1)::DOUBLE
      / (SUM(n_base) OVER (PARTITION BY window_start)
         + COUNT(*) OVER (PARTITION BY window_start)) AS p,
    (n_win + 1)::DOUBLE
      / (SUM(n_win) OVER (PARTITION BY window_start)
         + COUNT(*) OVER (PARTITION BY window_start)) AS q
  FROM filled
)
SELECT window_start, bucket, n_base, n_win,
       ROUND((q - p) * LN(q / p), 6) AS psi_term,
       ROUND(p * LN(p / q), 6) AS kl_term
FROM shares
"""


@query("windowed_mix_drift", _WDRIFT_ORACLE)
def q_windowed_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour ingest-mix drift vs the whole-corpus baseline — the batch
    twin of `streaming/drift_stream.py` (same `score_windows_psi` math
    the monitor applies to each watermark-closed window), on engine-exact
    integer hour buckets."""
    from fireball_data_processing_spark.streaming.drift_stream import (
        score_windows_psi,
    )

    ev = load_table(spark, sf_dir, "events")
    wc = (
        ev.groupBy(
            F.expr("ts div 3600000000000").alias("window_start"),
            F.col("event_type").alias("bucket"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    base = ev.groupBy(F.col("event_type").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return score_windows_psi(wc, base)


_HYBRID_ORACLE = _BM25_POSTINGS_CTE + f""",
bm_scored AS (
  SELECT qt.query_id, post.doc_id,
    ROUND(SUM(
      LN(1 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
      * (post.tf * (1.2 + 1.0))
        / (post.tf + 1.2 * (1 - 0.75 + 0.75 * post.dl / stats.avgdl))
    ), 6) AS score
  FROM post JOIN dft USING (term) CROSS JOIN stats JOIN qt USING (term)
  GROUP BY qt.query_id, post.doc_id
),
bm_ranked AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS "rank"
  FROM bm_scored QUALIFY "rank" <= 20
),
eq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (1, 2, 3)),
cos_scored AS (
  SELECT eq.query_id, c.vec_id AS doc_id,
    ROUND({_COSINE_EXPR.replace('q.qv', 'eq.qv')}, 6) AS cosine_sim
  FROM eq, embeddings c
  WHERE c.vec_id <> eq.query_id
),
cos_ranked AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, doc_id) AS "rank"
  FROM cos_scored QUALIFY "rank" <= 20
),
unioned AS (
  SELECT * FROM bm_ranked UNION ALL SELECT * FROM cos_ranked
),
fused AS (
  SELECT query_id, doc_id,
         ROUND(SUM(1.0 / (60 + "rank")), 6) AS rrf_score
  FROM unioned GROUP BY query_id, doc_id
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS BIGINT)
         AS "rank",
       doc_id, rrf_score
FROM fused
QUALIFY "rank" <= 10
"""


@query("hybrid_search_rrf", _HYBRID_ORACLE)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 and embedding-cosine top-20
    per query, combined with reciprocal-rank fusion (the standard RAG
    retrieval pattern — rank-based fusion sidesteps incomparable score
    scales). Both legs reuse their independently-oracled operators; the
    fusion is one union + aggregation + ranking window over
    top-k-sized frames."""
    from fireball_data_processing_spark.operators.retrieval import (
        bm25_search,
        rrf_fuse,
    )
    from fireball_data_processing_spark.operators.similarity import (
        brute_force_topk,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    q_texts = spark.createDataFrame(
        list(_BM25_QUERIES), ["query_id", "query_text"]
    )
    lexical = bm25_search(d, q_texts, k=20)
    semantic = brute_force_topk(
        e.filter(F.col("vec_id").isin(1, 2, 3)), e, k=20, round_dp=6
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    out = rrf_fuse([lexical, semantic], k=60, topk=10)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# =====================================================================
# Training-export layout + corpus maintenance (operators/sharding.py,
# operators/snapshots.py)
# =====================================================================

_SHARD_ORACLE = """
WITH s AS (
  SELECT doc_id,
         md5('v1' || doc_id::VARCHAR) AS shard_order,
         CAST(('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
           % 8 AS shard
  FROM documents
)
SELECT CAST(shard AS INT) AS shard,
       COUNT(*) AS n_docs,
       MIN(shard_order) AS first_key,
       MAX(shard_order) AS last_key,
       MIN(doc_id) AS min_doc_id
FROM s
GROUP BY shard
"""


@query("corpus_shard_layout", _SHARD_ORACLE)
def q_corpus_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout: every document gets a shard id
    and a within-shard pseudo-random order key from ONE md5 — stable
    under repartitioning/retries, no global sort, no driver index
    (operators/sharding.py; the reference's seeded random.shuffle intent,
    finetune_prep.py:174-186, re-expressed scale-first). The per-shard
    rollup attests both the hash permutation and the modulo placement."""
    from fireball_data_processing_spark.operators.sharding import (
        shuffle_shards,
    )

    d = load_table(spark, sf_dir, "documents")
    s = shuffle_shards(d, F.col("doc_id"), n_shards=8, salt="v1")
    return s.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.min("shard_order").alias("first_key"),
        F.max("shard_order").alias("last_key"),
        F.min("doc_id").alias("min_doc_id"),
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
             CASE WHEN text IS NULL THEN '0' ELSE '1' || text END,
             CASE WHEN lang IS NULL THEN '0' ELSE '1' || lang END,
             CASE WHEN source IS NULL THEN '0' ELSE '1' || source END)) AS fp
  FROM documents WHERE doc_id % 7 <> 0
),
new AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
             CASE WHEN t IS NULL THEN '0' ELSE '1' || t END,
             CASE WHEN lang IS NULL THEN '0' ELSE '1' || lang END,
             CASE WHEN source IS NULL THEN '0' ELSE '1' || source END)) AS fp
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || '!' ELSE text END AS t,
               lang, source
        FROM documents WHERE doc_id % 11 <> 0)
),
diff AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.fp = n.fp THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, COUNT(*) AS n_keys,
       MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
FROM diff GROUP BY status
"""


def _snapshot_pair(d: DataFrame, fp: Column) -> tuple[DataFrame, DataFrame]:
    """Two fingerprinted crawls of the documents table, by ``doc_id``
    residue: ``old`` lacks the %7 keys (they are new), ``new`` lacks the
    %11 keys (they were dropped) and appends "!" to the %5 texts (they
    changed); each carries ``fp`` as column ``fp``."""
    old = d.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0).withColumn("fp", fp)
    new = (
        d.filter(F.pmod(F.col("doc_id"), F.lit(11)) != 0)
        .withColumn(
            "text",
            F.when(
                F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                F.concat(F.col("text"), F.lit("!")),
            ).otherwise(F.col("text")),
        )
        .withColumn("fp", fp)
    )
    return old, new


@query("snapshot_diff_counts", _SNAPSHOT_DIFF_ORACLE)
def q_snapshot_diff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/snapshots.py): two corpus snapshots
    are reduced to (key, md5-fingerprint) relations — payload bytes never
    enter the shuffle — and ONE key-partitioned full outer join
    classifies every key added/removed/changed/unchanged. Deterministic
    doc_id residues stand in for consecutive crawls: %7 keys are new,
    %11 keys were dropped, %5 texts changed. The per-status rollup
    attests the fingerprint encoding (presence-bit + 0x1F separators)
    and all four join-classification branches."""
    from fireball_data_processing_spark.operators.snapshots import (
        fingerprint,
        snapshot_diff,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint([F.col("text"), F.col("lang"), F.col("source")])
    old, new = _snapshot_pair(d, fp)
    diff = snapshot_diff(old, new, "doc_id")
    return diff.groupBy("status").agg(
        F.count("*").alias("n_keys"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
    )


_REFRESH_ORACLE = """
WITH new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || '!' ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 11 <> 0
),
feat AS (
  SELECT doc_id, source,
    len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_words,
    md5(text) AS text_hash,
    CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 0
         THEN 'refreshed' ELSE 'carried' END AS origin
  FROM new
)
SELECT source, origin, COUNT(*) AS n_docs,
  SUM(CAST(('0x' || substr(text_hash, 1, 8)) AS BIGINT))::BIGINT
    AS content_sum,
  SUM(n_words)::BIGINT AS sum_words
FROM feat GROUP BY source, origin
"""


@query("incremental_refresh_counts", _REFRESH_ORACLE)
def q_incremental_refresh_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven selective recompute (plans/refresh.py): the snapshot
    diff names added/changed keys, ONLY that slice re-runs the
    per-document pipeline, unchanged keys carry their prior outputs
    forward. The oracle computes the FULL reprocess of the new snapshot
    directly and classifies origin from the residues — so a hash-exact
    match proves both halves: recomputed rows equal a fresh run AND
    carried rows were safe to reuse (content checksums cover every
    output byte). Residues: %7 keys are new, %11 keys dropped, %5 texts
    changed — same snapshot fixture as snapshot_diff_counts."""
    from fireball_data_processing_spark.operators.snapshots import fingerprint
    from fireball_data_processing_spark.plans.refresh import (
        incremental_refresh,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint([F.col("text"), F.col("source")])
    old, new = _snapshot_pair(d, fp)

    def process(docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("bigint")
            .alias("n_words"),
            F.md5("text").alias("text_hash"),
        )

    out = incremental_refresh(
        new, old, process(old), process, origin_col="origin"
    )
    return out.groupBy("source", "origin").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.conv(F.substring("text_hash", 1, 8), 16, 10).cast("bigint")
        )
        .cast("bigint")
        .alias("content_sum"),
        F.sum("n_words").cast("bigint").alias("sum_words"),
    )


_DOMAIN_CAP_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY ('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 8))
                 ::BIGINT / 4294967296.0,
               doc_id) AS rnk
  FROM documents
)
SELECT source,
  COUNT(*) AS n_kept,
  SUM(doc_id)::BIGINT AS id_sum,
  MIN(doc_id) AS min_id,
  MAX(doc_id) AS max_id
FROM ranked WHERE rnk <= 30
GROUP BY source
"""


@query("domain_capped_sample", _DOMAIN_CAP_ORACLE)
def q_domain_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-domain quota: each source contributes at most 30
    documents, chosen by deterministic md5 rank (stable under retries /
    repartitioning, engine-reproducible — the absolute-cap complement to
    the fraction-based mixture/stratified samplers). One window = one
    exchange on the domain key; the per-source id-sum makes the check
    membership-exact, not just count-exact."""
    from fireball_data_processing_spark.operators.sampling import (
        capped_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    kept = capped_sample(d, F.col("source"), cap=30, key=F.col("doc_id"), salt="cap")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_TEMPERATURE_ORACLE = """
WITH counts AS (
  SELECT lang AS bucket, COUNT(*)::BIGINT AS n_rows
  FROM documents GROUP BY lang
),
shared AS (
  SELECT bucket, n_rows,
    n_rows::DOUBLE / SUM(n_rows) OVER () AS share_raw
  FROM counts
),
weighted AS (
  SELECT bucket, n_rows, share_raw,
    POWER(share_raw, 0.5) / SUM(POWER(share_raw, 0.5)) OVER () AS weight_raw,
    SUM(n_rows) OVER () AS total
  FROM shared
)
SELECT bucket, n_rows,
  ROUND(share_raw, 6) AS share,
  ROUND(weight_raw, 6) AS weight,
  ROUND(LEAST(1.0, total * weight_raw / n_rows), 6) AS keep_rate
FROM weighted
"""


@query("temperature_mixture_plan", _TEMPERATURE_ORACLE)
def q_temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture plan (the multilingual-training
    sampling rule): per-language keep rates rebalancing the corpus
    toward share^0.5 proportions — tail languages up-weighted, the head
    capped at rate 1. Aggregate-sized end to end: one groupBy on the
    bucket, then windows over the bucket-count table, never the corpus.
    Feed the rates into mixture_sample to materialize the blend."""
    from fireball_data_processing_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    d = load_table(spark, sf_dir, "documents")
    return temperature_mixture_rates(d, F.col("lang"), alpha=0.5)


_CORPUS_V2_ORACLE = """
WITH normalized AS (
  SELECT doc_id, source,
    nfc_normalize(regexp_replace(text,
      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]', '', 'g')) AS text
  FROM documents
),
cleaned AS (
  SELECT doc_id, source,
    COALESCE(array_to_string(
      list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                  s -> s <> '' AND len(string_split_regex(s, '\\s+')) >= 50),
      chr(10)), '') AS clean_text
  FROM normalized
  WHERE NOT (contains(lower(text), 'lorem ipsum')
             OR contains(lower(text), 'slow scan'))
),
nonempty AS (SELECT * FROM cleaned WHERE clean_text <> ''),
""" + _DEDUPED_CTE + ",\n" + _QUALITY_CTE + """,
capped AS (
  SELECT doc_id, source, n_tokens FROM (
    SELECT q.*, ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY ('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 8))
                 ::BIGINT / 4294967296.0, doc_id) AS rnk
    FROM quality q
  ) WHERE rnk <= 30
),
cap_counts AS (
  SELECT source, COUNT(*)::BIGINT AS n FROM capped GROUP BY source
),
cap_tot AS (SELECT source, n, SUM(n) OVER () AS total FROM cap_counts),
cap_w AS (
  SELECT source, n, total, POWER(n::DOUBLE / total, 0.5) AS w FROM cap_tot
),
rates AS (
  SELECT source,
    ROUND(LEAST(1.0, total * (w / SUM(w) OVER ()) / n), 6) AS keep_rate
  FROM cap_w
),
mixed AS (
  SELECT c.* FROM capped c JOIN rates r USING (source)
  WHERE ('0x' || substr(md5('mix' || CAST(c.doc_id AS VARCHAR)), 1, 8))
          ::BIGINT / 4294967296.0 < r.keep_rate
)
SELECT q.source, q.n_quality, c.n_capped, m.n_mixed, m.total_tokens,
  (m.total_tokens + 255) // 256 AS n_bins
FROM (SELECT source, COUNT(*)::BIGINT AS n_quality
      FROM quality GROUP BY source) q
JOIN (SELECT source, COUNT(*)::BIGINT AS n_capped
      FROM capped GROUP BY source) c USING (source)
JOIN (SELECT source, COUNT(*)::BIGINT AS n_mixed,
             SUM(n_tokens)::BIGINT AS total_tokens
      FROM mixed GROUP BY source) m USING (source)
"""


@query("corpus_pipeline_v2_summary", _CORPUS_V2_ORACLE)
def q_corpus_pipeline_v2_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extended capstone: unicode normalize -> C4 clean -> exact
    dedup -> quality band -> per-source cap (30) -> temperature mixture
    (alpha=0.5) -> packing, as ONE lazy composition
    (plans/corpus_pipeline.py build_training_corpus with every optional
    batch stage on). Audited per source: counts after the quality, cap
    and mixture stages, surviving tokens, and the packed bin count (the
    Spark side counts bins from the ACTUAL manifest; the oracle computes
    ceil(tokens/256), equal only if packing stays dense through the new
    stages)."""
    from fireball_data_processing_spark.plans.corpus_pipeline import (
        build_training_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    stages = build_training_corpus(
        d, normalize_form="NFC", domain_cap=30, mixture_alpha=0.5
    )
    # this audit fans out to FOUR stages; per the module's fan-out rule,
    # persist the frames consumed more than once so the normalize UDF +
    # clean/dedup subtree runs once, not once per consumer (Spark's cache
    # is keyed by logical plan, so downstream stages built from these
    # same objects hit it too)
    stages["quality"].persist()
    stages["capped"].persist()
    quality = _per_source_count(stages["quality"], "n_quality")
    capped = _per_source_count(stages["capped"], "n_capped")
    mixed = _per_source_tokens(stages["mixed"], "n_mixed")
    bins = _per_source_bins(stages["packed"])
    return (
        quality.join(capped, "source")
        .join(mixed, "source")
        .join(bins, "source")
        .select(
            "source", "n_quality", "n_capped", "n_mixed",
            "total_tokens", "n_bins",
        )
    )


_UPSERT_ORACLE = """
WITH existing AS (
  SELECT doc_id, source, text, 0 AS version FROM documents
),
ups AS (
  SELECT doc_id, source, text || '~' AS text, 1 AS version
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, source, text || '~~' AS text, 2 AS version
  FROM documents WHERE doc_id % 6 = 0
),
lww AS (
  SELECT doc_id, source, text, version FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY version DESC) AS rn
    FROM ups
  ) WHERE rn = 1
),
merged AS (
  SELECT e.doc_id, e.source, e.text, e.version FROM existing e
  WHERE NOT EXISTS (SELECT 1 FROM lww l WHERE l.doc_id = e.doc_id)
  UNION ALL
  SELECT doc_id, source, text, version FROM lww
)
SELECT source, COUNT(*)::BIGINT AS n_rows,
  SUM(version)::BIGINT AS version_sum,
  SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))::BIGINT
    AS content_sum
FROM merged GROUP BY source
"""


@query("upsert_merge_counts", _UPSERT_ORACLE)
def q_upsert_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-upsert merge (batch twin of the streaming upsert sink,
    streaming/upsert_stream.py): a batch carrying TWO versions of some
    keys collapses last-write-wins, untouched rows survive an anti
    join, and the union is the new table state. Residues: every %3 key
    is updated, every %6 key twice in one batch (version 2 must win).
    The per-source version sums + content checksums make the check
    row-exact: a wrong LWW choice or a dropped/duplicated key moves
    both."""
    from fireball_data_processing_spark.streaming.upsert_stream import (
        upsert_merge,
    )

    d = load_table(spark, sf_dir, "documents")
    existing = d.select(
        "doc_id", "source", "text", F.lit(0).alias("version")
    )
    u1 = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        "doc_id",
        "source",
        F.concat(F.col("text"), F.lit("~")).alias("text"),
        F.lit(1).alias("version"),
    )
    u2 = d.filter(F.pmod(F.col("doc_id"), F.lit(6)) == 0).select(
        "doc_id",
        "source",
        F.concat(F.col("text"), F.lit("~~")).alias("text"),
        F.lit(2).alias("version"),
    )
    merged = upsert_merge(existing, u1.unionByName(u2), "doc_id", "version")
    return merged.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum("version").cast("bigint").alias("version_sum"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
        )
        .cast("bigint")
        .alias("content_sum"),
    )


_SCRIPT_SUFFIX = " Привет 你好 møre"

_SCRIPT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text || '{_SCRIPT_SUFFIX}' AS s FROM documents
),
c AS (
  SELECT doc_id,
    (length(s) - length(regexp_replace(s, '\\p{{Latin}}', '', 'g')))::BIGINT
      AS n_latin,
    (length(s) - length(regexp_replace(s, '\\p{{Cyrillic}}', '', 'g')))::BIGINT
      AS n_cyrillic,
    (length(s) - length(regexp_replace(s, '\\p{{Han}}', '', 'g')))::BIGINT
      AS n_han,
    (length(s) - length(regexp_replace(s, '\\p{{Arabic}}', '', 'g')))::BIGINT
      AS n_arabic
  FROM t
)
SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic,
  CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_han
            AND n_latin >= n_arabic THEN 'latin'
       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic THEN 'cyrillic'
       WHEN n_han >= n_arabic THEN 'han'
       ELSE 'arabic' END AS dominant
FROM c
"""


@query("doc_script_profile", _SCRIPT_ORACLE)
def q_doc_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system detection: per-script character counts (one JVM
    regex per script, zero shuffles) + deterministic argmax — the
    complement to the marker-lexicon language ID for multilingual
    crawls (script separates Cyrillic from Latin for free; the lexicon
    separates languages sharing a script). The synthetic corpus is
    ASCII, so a mixed Cyrillic/Han/Latin suffix is appended to every
    row; the oracle re-counts with RE2's script classes, proving the
    Java/RE2 class tables agree on these ranges."""
    from fireball_data_processing_spark.functions.textstats import (
        dominant_script,
        script_counts,
    )

    d = load_table(spark, sf_dir, "documents")
    pre = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(_SCRIPT_SUFFIX)).alias("__s"),
    )
    counts = script_counts(F.col("__s"))
    sized = pre.select(
        "doc_id",
        *[
            c.cast("bigint").alias(f"n_{name}")
            for name, c in counts.items()
        ],
    )
    renamed = {
        name: F.col(f"n_{name}") for name in counts
    }
    return sized.withColumn("dominant", dominant_script(renamed))


_PROFILE_ORACLE = """
SELECT 'doc_id' AS "column", COUNT(*)::BIGINT AS n_rows,
  SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
  COUNT(DISTINCT doc_id)::BIGINT AS n_distinct,
  MIN(doc_id)::VARCHAR AS min_value, MAX(doc_id)::VARCHAR AS max_value
FROM documents
UNION ALL
SELECT 'text', COUNT(*)::BIGINT,
  SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT,
  COUNT(DISTINCT text)::BIGINT, MIN(text), MAX(text)
FROM documents
UNION ALL
SELECT 'lang', COUNT(*)::BIGINT,
  SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
  COUNT(DISTINCT lang)::BIGINT, MIN(lang), MAX(lang)
FROM documents
UNION ALL
SELECT 'source', COUNT(*)::BIGINT,
  SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
  COUNT(DISTINCT source)::BIGINT, MIN(source), MAX(source)
FROM documents
UNION ALL
SELECT 'n_chars', COUNT(*)::BIGINT,
  SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
  COUNT(DISTINCT n_chars)::BIGINT,
  MIN(n_chars)::VARCHAR, MAX(n_chars)::VARCHAR
FROM documents
"""


@query("table_profile", _PROFILE_ORACLE)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table datasheet (operators/profile.py): every column's
    null count, cardinality, and min/max from a SINGLE scan+agg — the
    intake profile drift monitors and quality gates consume. This
    catalog entry uses exact distincts so DuckDB reproduces the values
    bit-for-bit; the operator defaults to the HLL sketch at corpus
    scale (the exact path EXPANDs the input once per distinct
    column)."""
    from fireball_data_processing_spark.operators.profile import (
        profile_columns,
    )

    d = load_table(spark, sf_dir, "documents")
    return profile_columns(d, exact_distinct=True)


_ROLLUP_ORACLE = """
SELECT event_type, (user_id % 4)::INT AS cohort,
  GROUPING(event_type, user_id % 4)::BIGINT AS gid,
  COUNT(*)::BIGINT AS n_events,
  ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY ROLLUP(event_type, user_id % 4)
"""


@query("event_type_rollup", _ROLLUP_ORACLE)
def q_event_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical grouping sets via Spark's native ROLLUP: per
    (event_type, cohort) cells, per-type subtotals, and the grand total
    in ONE aggregation pass (partial aggregation covers all levels —
    no per-level re-scan), with grouping_id disambiguating real NULL
    keys from rolled-up levels. The engine-native OLAP surface the
    reference computes with ad-hoc per-level loops; the oracle is
    DuckDB's GROUP BY ROLLUP + GROUPING, whose bit encoding must agree
    exactly."""
    ev = load_table(spark, sf_dir, "events")
    cohort = F.pmod(F.col("user_id"), F.lit(4)).cast("int")
    return (
        ev.select(
            "event_type", cohort.alias("cohort"), "value"
        )
        .rollup("event_type", "cohort")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_LINE_DEDUP_ORACLE = """
WITH words AS (
  SELECT doc_id,
    list_filter(list_transform(
      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
      s -> trim(s)), s -> s <> '') AS w
  FROM documents
),
""" + _SEGMENTS_CTE + """,
st AS """ + _SEG_STATS_BODY + """,
marked AS (
  SELECT s.doc_id, s.seg_idx, s.seg,
    (st.nd >= 2 AND s.doc_id <> st.keeper) AS removed
  FROM segs s JOIN st ON s.seg = st.seg
)
SELECT doc_id,
  COUNT(*)::BIGINT AS n_segments,
  SUM(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed_segments,
  COALESCE(array_to_string(
    list(seg ORDER BY seg_idx) FILTER (WHERE NOT removed), ' '), '')
    AS kept_text
FROM marked
GROUP BY doc_id
"""


@query("cross_doc_line_dedup", _LINE_DEDUP_ORACLE)
def q_cross_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style cross-document line dedup (operators/dedup.py
    line_dedup): 8-word aligned segments occurring in >= 2 distinct docs
    are removed everywhere except the lowest-doc_id holder (C4
    keep-one-occurrence semantics); surviving segments re-join in
    document order so unique content inside mostly-duplicated documents
    is retained. Two shuffles: segment-hash window, per-doc rollup."""
    from fireball_data_processing_spark.operators.dedup import line_dedup

    d = load_table(spark, sf_dir, "documents")
    return line_dedup(d, seg_words=8, min_docs=2, keep_first=True)


_SETJOIN_ORACLE = _WORDS_NONEMPTY_CTE + ",\n" + _SH_CTE + """,
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b, n_inter::BIGINT AS n_inter,
  ROUND(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.5
"""


@query("set_similarity_pairs", _SETJOIN_ORACLE)
def q_set_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard>=0.5 threshold self-join over 3-word shingle sets via
    prefix filtering (operators/setjoin.py, PPJoin family): only the
    rare-first prefix of each set enters the join, yet no qualifying
    pair can be missed — so this Spark plan must equal the oracle's
    brute-force all-pairs join exactly. The lossless complement to the
    probabilistic MinHash/LSH path."""
    from fireball_data_processing_spark.operators.setjoin import set_similarity_join

    d = load_table(spark, sf_dir, "documents")
    return set_similarity_join(d, threshold=0.5, k=3)


_BIGRAM_LM_ORACLE = _WORDS_NONEMPTY_CTE + ",\n" + _BIGRAM_COUNTS_CTE + """
SELECT doc_id,
  ROUND(AVG(-log2((cb + 0.5) / (cp + 0.5 * vsz))), 6)
    AS avg_neg_log2_bigram_prob,
  COUNT(*)::BIGINT AS n_bigrams
FROM cnt, v
GROUP BY doc_id
"""


@query("doc_bigram_logprob", _BIGRAM_LM_ORACLE)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram cross-entropy per document (functions/textstats.py
    bigram_logprob) — the order-2 LM quality signal (CCNet-style):
    add-0.5-smoothed P(w|prev) from the corpus's own bigram counts, both
    count tables as windows over ONE bigram explode (corpus tokenized
    once, no join-back), vocabulary size as a one-row broadcast."""
    from fireball_data_processing_spark.functions.textstats import bigram_logprob

    d = load_table(spark, sf_dir, "documents")
    return bigram_logprob(d, alpha=0.5)


_SEG_SCRUB_ORACLE = _WORDS_NONEMPTY_CTE + ",\n" + _SEGMENTS_CTE + """,
idx AS (
  SELECT DISTINCT seg FROM segs WHERE doc_id % 4 = 0
),
marked AS (
  SELECT s.doc_id, s.seg_idx, s.seg, (idx.seg IS NOT NULL) AS hit
  FROM segs s LEFT JOIN idx ON s.seg = idx.seg
  WHERE s.doc_id % 4 <> 0
)
SELECT doc_id,
  COUNT(*)::BIGINT AS n_segments,
  SUM(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_removed_segments,
  COALESCE(array_to_string(
    list(seg ORDER BY seg_idx) FILTER (WHERE NOT hit), ' '), '') AS text
FROM marked
GROUP BY doc_id
"""


@query("segment_scrub_gate", _SEG_SCRUB_ORACLE)
def q_segment_scrub_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming segment-scrub gate
    (streaming/dedup_stream.py `stream_scrub_segments`): incoming docs
    (doc_id % 4 != 0) leave with every aligned segment already present
    in the corpus partition (doc_id % 4 == 0, min_docs=1: 'the corpus
    has it') removed, unique remainder kept. The stream runs this exact
    plan per micro-batch inside foreachBatch (a pure function of the
    static index needs no watermark); parity + replay tests in
    tests/test_streaming.py."""
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_segment_index,
        scrub_segments,
    )

    d = load_table(spark, sf_dir, "documents")
    idx = corpus_segment_index(
        d.filter(F.col("doc_id") % 4 == 0), seg_words=8, min_docs=1
    )
    return scrub_segments(
        d.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text"), idx,
        seg_words=8,
    )


_CORPUS_V3_ORACLE = _CLEANED_CTE + """,
segwords AS (
  SELECT doc_id, source,
    list_filter(string_split(trim(regexp_replace(lower(clean_text), '\\s+', ' ', 'g')), ' '),
                s -> s <> '') AS w
  FROM nonempty
),
segs AS (
  SELECT doc_id, source, (st // 8)::BIGINT AS seg_idx,
         array_to_string(list_slice(w, st + 1, st + 8), ' ') AS seg
  FROM segwords, UNNEST(generate_series(0, greatest(len(w) - 1, 0), 8)) AS t(st)
),
segstats AS """ + _SEG_STATS_BODY + """,
marked AS (
  SELECT s.doc_id, s.source, s.seg_idx, s.seg,
    (ss.nd >= 2 AND s.doc_id <> ss.keeper) AS removed
  FROM segs s JOIN segstats ss ON s.seg = ss.seg
),
segd AS (
  SELECT doc_id, source,
    COALESCE(array_to_string(
      list(seg ORDER BY seg_idx) FILTER (WHERE NOT removed), ' '), '')
      AS clean_text,
    SUM(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_seg_removed
  FROM marked GROUP BY doc_id, source
),
segd_live AS (SELECT * FROM segd WHERE clean_text <> ''),
deduped AS (
  SELECT doc_id, source, clean_text FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(clean_text)) AS keeper
    FROM segd_live
  ) WHERE doc_id = keeper
),
""" + _QUALITY_CTE + """
SELECT c.source, c.n_cleaned, s.n_seg_deduped, s.seg_removed,
  q.n_quality, q.total_tokens,
  (q.total_tokens + 255) // 256 AS n_bins
FROM (SELECT source, COUNT(*)::BIGINT AS n_cleaned
      FROM nonempty GROUP BY source) c
JOIN (SELECT source, COUNT(*)::BIGINT AS n_seg_deduped,
             SUM(n_seg_removed)::BIGINT AS seg_removed
      FROM segd_live GROUP BY source) s USING (source)
JOIN (SELECT source, COUNT(*)::BIGINT AS n_quality,
             SUM(n_tokens)::BIGINT AS total_tokens
      FROM quality GROUP BY source) q USING (source)
"""


@query("corpus_pipeline_v3_summary", _CORPUS_V3_ORACLE)
def q_corpus_pipeline_v3_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone with the segment-dedup stage switched on:
    C4 clean -> CROSS-DOC SEGMENT DEDUP (line_dedup, min_docs=2) ->
    exact dedup -> quality band -> packing, one lazy composition
    (plans/corpus_pipeline.py build_training_corpus,
    segment_dedup_min_docs=2). Isolates the new stage: per-source counts
    before/after it, segments removed, survivors through quality, and
    the packed bin count (Spark counts bins from the ACTUAL manifest;
    the oracle computes ceil(tokens/256) — equal only while packing
    stays dense downstream of the scrub)."""
    from fireball_data_processing_spark.plans.corpus_pipeline import (
        build_training_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    stages = build_training_corpus(d, segment_dedup_min_docs=2, segment_words=8)
    stages["segment_deduped"].persist()
    stages["quality"].persist()
    cleaned = _per_source_count(stages["cleaned"], "n_cleaned")
    segd = stages["segment_deduped"].groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seg_deduped"),
        F.sum("n_seg_removed").cast("bigint").alias("seg_removed"),
    )
    quality = _per_source_tokens(stages["quality"], "n_quality")
    bins = _per_source_bins(stages["packed"])
    return (
        cleaned.join(segd, "source")
        .join(quality, "source")
        .join(bins, "source")
        .select(
            "source", "n_cleaned", "n_seg_deduped", "seg_removed",
            "n_quality", "total_tokens", "n_bins",
        )
    )


_WINNOW_ORACLE = _WINNOW_GRAMS_CTE + """
SELECT DISTINCT doc_id,
  list_min(list_slice(g, j, j + 3)) AS fingerprint
FROM grams,
  UNNEST(generate_series(1, greatest(len(g) - 3, 1))) AS t(j)
"""


@query("winnow_fingerprint_index", _WINNOW_ORACLE)
def q_winnow_fingerprint_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS algorithm, functions/textstats.py
    winnow_fingerprints): distinct minima of every 4-wide window of
    4-word-gram md5s — any two docs sharing a run of >= 7 words share a
    fingerprint, at ~2/(w+1) of the full gram-index size. Per-row array
    math + one explode; this is the posting list a copy-detection index
    stores."""
    from fireball_data_processing_spark.functions.textstats import (
        winnow_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, k=4, window=4).distinct()


_CONTAINMENT_ORACLE = _SHINGLES_CTE + """,
bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0),
bsize AS (SELECT bench_id, COUNT(*) AS n_bench_grams FROM bench GROUP BY bench_id),
train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
shared AS (
  SELECT t.doc_id, b.bench_id, COUNT(*) AS n_shared
  FROM train t JOIN bench b ON t.shingle = b.shingle
  GROUP BY 1, 2
)
SELECT s.doc_id, s.bench_id,
  z.n_bench_grams::BIGINT AS n_bench_grams,
  s.n_shared::BIGINT AS n_shared,
  ROUND(s.n_shared * 1.0 / z.n_bench_grams, 6) AS containment
FROM shared s JOIN bsize z USING (bench_id)
WHERE s.n_shared * 1.0 / z.n_bench_grams >= 0.2
"""


@query("benchmark_containment_scores", _CONTAINMENT_ORACLE)
def q_benchmark_containment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric decontamination scores (operators/dedup.py
    ngram_containment, the GPT-3/PaLM-style protocol): fraction of each
    benchmark item's distinct 3-word shingles present in a training doc
    (doc_id % 10 partitions as in `benchmark_contamination`), kept at
    containment >= 0.2. Containment, not Jaccard: a long doc that
    swallows a short benchmark item scores 1.0 even when Jaccard is
    tiny — exactly the leak being hunted."""
    from fireball_data_processing_spark.operators.dedup import ngram_containment

    d = load_table(spark, sf_dir, "documents")
    return ngram_containment(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        k=3,
        min_containment=0.2,
    )


# BLEU-2 oracle body over a `pairs(pair_id, prediction, reference)` CTE —
# shared by the fixed-pairing self-BLEU query and the LSH-paired
# corpus-diversity probe (identical metric math, different pairing CTE).
_BLEU_BODY = """
pw AS (
  SELECT pair_id,
    list_filter(string_split(trim(regexp_replace(lower(prediction), '\\s+', ' ', 'g')), ' '),
                s -> s <> '') AS w
  FROM pairs
),
rw AS (
  SELECT pair_id,
    list_filter(string_split(trim(regexp_replace(lower(reference), '\\s+', ' ', 'g')), ' '),
                s -> s <> '') AS w
  FROM pairs
),
occ AS (
  SELECT pair_id, 1 AS n, t.g AS gram, 'p' AS side FROM pw, UNNEST(w) AS t(g)
  UNION ALL
  SELECT pair_id, 2, array_to_string(list_slice(w, i, i + 1), ' '), 'p'
  FROM pw, UNNEST(generate_series(1, len(w) - 1)) AS t(i) WHERE len(w) >= 2
  UNION ALL
  SELECT pair_id, 1, t.g, 'r' FROM rw, UNNEST(w) AS t(g)
  UNION ALL
  SELECT pair_id, 2, array_to_string(list_slice(w, i, i + 1), ' '), 'r'
  FROM rw, UNNEST(generate_series(1, len(w) - 1)) AS t(i) WHERE len(w) >= 2
),
counts AS (
  SELECT pair_id, n, gram,
    SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS cp,
    SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS cr
  FROM occ GROUP BY 1, 2, 3
),
per_n AS (
  SELECT pair_id, n,
    SUM(LEAST(cp, cr)) AS clipped, SUM(cp) AS denom,
    ln((SUM(LEAST(cp, cr)) + 1) * 1.0 / (SUM(cp) + 1)) AS logp
  FROM counts GROUP BY 1, 2
),
rolled AS (
  SELECT pair_id,
    SUM(CASE WHEN n = 1 THEN denom ELSE 0 END)::BIGINT AS pred_len,
    SUM(logp) / 2 AS mean_logp,
    ROUND(EXP(SUM(CASE WHEN n = 1 THEN logp END)), 6) AS p1,
    ROUND(EXP(SUM(CASE WHEN n = 2 THEN logp END)), 6) AS p2
  FROM per_n GROUP BY pair_id
),
rl AS (
  SELECT pair_id, COUNT(*)::BIGINT AS ref_len
  FROM occ WHERE side = 'r' AND n = 1 GROUP BY pair_id
)
SELECT r.pair_id, r.pred_len, rl.ref_len, r.p1, r.p2,
  ROUND(LEAST(1.0, EXP(1 - rl.ref_len * 1.0 / r.pred_len))
        * EXP(r.mean_logp), 6) AS bleu
FROM rolled r JOIN rl USING (pair_id)
WHERE r.pred_len > 0
"""

_SELF_BLEU_ORACLE = """
WITH pairs AS (
  SELECT e.doc_id AS pair_id, e.text AS prediction, o.text AS reference
  FROM documents e JOIN documents o ON o.doc_id = e.doc_id + 1
  WHERE e.doc_id % 2 = 0
),
""" + _BLEU_BODY


@query("self_bleu_pairs", _SELF_BLEU_ORACLE)
def q_self_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed smoothed BLEU-2 (operators/evalmetrics.py bleu_pairs)
    over fixed document pairings (each even doc scored against its odd
    successor) — the self-BLEU corpus-diversity probe: high scores mean
    repetitive / mode-collapsed text. Clipped modified precision via one
    union-of-explodes pass (both sides, both orders, ONE exploded frame),
    add-1 smoothing, brevity penalty; the model-based metrics
    (perplexity/BLEURT) plug into plans/inference.py instead."""
    from fireball_data_processing_spark.operators.evalmetrics import bleu_pairs

    d = load_table(spark, sf_dir, "documents")
    e = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("prediction")
    )
    o = d.select((F.col("doc_id") - 1).alias("pair_id"), F.col("text").alias("reference"))
    pairs = e.join(o, "pair_id")
    return bleu_pairs(pairs, max_n=2)


_DIVERSITY_PROBE_ORACLE = _LSH_PAIRS_CTE + """,
pairs AS (
  SELECT c.id_a || '|' || c.id_b AS pair_id,
         a.text AS prediction, b.text AS reference
  FROM cand c
  JOIN documents a ON a.doc_id = c.id_a
  JOIN documents b ON b.doc_id = c.id_b
),
""" + _BLEU_BODY


@query("corpus_diversity_probe", _DIVERSITY_PROBE_ORACLE)
def q_corpus_diversity_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU diversity probe END-TO-END at corpus scale: the pairing
    comes from the near-dup path itself (MinHash -> LSH band candidates),
    not a fixed even/odd pairing — exactly how a training-data pipeline
    measures whether its corpus is collapsing onto repeated text. Plan:
    the candidate generation is band-bucket-confined (never all pairs),
    the pair list is candidate-sized, and the BLEU-2 rollup is the same
    one-pass union-of-explodes as `self_bleu_pairs` — contact stays
    bounded by n-gram occurrences of CANDIDATE docs only. At 100 TB the
    LSH stage prunes the quadratic space first; BLEU touches only the
    sliver that survives banding."""
    from fireball_data_processing_spark.operators.evalmetrics import bleu_pairs

    d = load_table(spark, sf_dir, "documents")
    cand = _lsh_pairs(d)
    pairs = (
        cand.join(
            d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("prediction")),
            "id_a",
        )
        .join(
            d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("reference")),
            "id_b",
        )
        .select(
            F.concat_ws("|", F.col("id_a"), F.col("id_b")).alias("pair_id"),
            "prediction",
            "reference",
        )
    )
    return bleu_pairs(pairs, max_n=2)


def _spark_round_sql(expr: str) -> str:
    """Spark-semantics 6-dp double round as DuckDB text: shortest-decimal
    repr (DuckDB's double->VARCHAR, like Java Double.toString) then
    HALF_UP on the decimal. Plain ROUND(double) rounds the EXACT binary
    value instead, which systematically disagrees whenever the input is
    itself a rounded decimal landing on a half boundary one digit out —
    lam * (6-dp score) products (0.7 * 0.371485 = 0.2600395), or a
    final 6-dp display round of an 8-dp fixed-point iterate whose last
    two digits are '50'. Use this wherever an oracle re-rounds values
    that are decimals by construction; raw aggregates/cosines never tie
    and keep plain ROUND (the markov/kmeans precedent).

    INPUT CONTRACT (load-bearing): ``expr`` must evaluate to values that
    are DECIMALS BY CONSTRUCTION — prior-step rounds, products of short
    decimals — whose shortest repr fits 18 fractional digits. The
    DECIMAL(38,18) intermediate silently pre-rounds anything finer (raw
    doubles with 17 significant digits below ~1e-2, sub-1e-18
    magnitudes), so a half-boundary case there can disagree with Python
    ``spark_round``. Do NOT point this helper at raw floats; those never
    tie at the display dp and keep plain ROUND. 6 dp sits well inside
    the 18-digit scale, so the final round never touches the pre-rounded
    tail."""
    return (
        f"CAST(ROUND(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(38,18)),"
        " 6) AS DOUBLE)"
    )


def _mmr_oracle(k: int, lam: float, shortlist: int) -> str:
    """Unrolled greedy-MMR DuckDB replay: the float-noise cascade that
    would make a recursive-CTE twin flaky is absent because mmr_rerank
    rounds the pair sims and each
    step's marginal score HALF_UP at 6 dp BEFORE the argmax — the
    unrolled-Lloyd recipe (_kmeans_cte) applied to greedy selection.
    Each step CTE: anti-join out prior picks, penalty = MAX rounded sim
    to the selected set, argmax on (rounded score DESC, id ASC)."""
    # STRING-cast literals, not numeric ('0.7'::DOUBLE goes through the
    # correctly-rounded strtod; a NUMERIC literal parses as DECIMAL
    # first, and DuckDB's decimal->double conversion can land on the
    # NEIGHBORING double — observed for 0.19013349999999998, pinned in
    # tests/test_sqltext_exprs.py). Value-identical for lam=0.7 (both
    # paths agree there), load-bearing for arbitrary lam.
    lam_s = f"CAST('{lam!r}' AS DOUBLE)"
    oml_s = f"CAST('{(1 - lam)!r}' AS DOUBLE)"

    s1 = _spark_round_sql(f"{lam_s} * relevance")
    st = _spark_round_sql(f"{lam_s} * relevance - {oml_s} * penalty")
    parts = [
        f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
bfs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.embedding AS nv,
    ROUND({_sql_cosine("q.qv", "c.embedding", 64)}, 6) AS relevance
  FROM q, embeddings c WHERE c.vec_id <> q.query_id
),
bf AS (
  SELECT query_id, neighbor_id, nv, relevance FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY relevance DESC, neighbor_id ASC) AS rn
    FROM bfs
  ) WHERE rn <= {shortlist}
),
ps AS (
  SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
    ROUND({_sql_cosine("a.nv", "b.nv", 64)}, 6) AS s
  FROM bf a JOIN bf b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
),
p1 AS (
  SELECT query_id, neighbor_id, relevance,
    {s1} AS mmr_score
  FROM bf
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY {s1} DESC, neighbor_id ASC) = 1
),
sel1 AS (SELECT query_id, neighbor_id FROM p1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""",
pen{t} AS (
  SELECT c.query_id, c.neighbor_id, c.relevance, MAX(ps.s) AS penalty
  FROM bf c
  LEFT JOIN sel{t - 1} x
    ON x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
  JOIN ps ON ps.query_id = c.query_id AND ps.ia = c.neighbor_id
  JOIN sel{t - 1} s ON s.query_id = ps.query_id AND s.neighbor_id = ps.ib
  WHERE x.neighbor_id IS NULL
  GROUP BY 1, 2, 3
),
p{t} AS (
  SELECT query_id, neighbor_id, relevance,
    {st} AS mmr_score
  FROM pen{t}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY {st} DESC, neighbor_id ASC) = 1
),
sel{t} AS (SELECT query_id, neighbor_id FROM sel{t - 1}
           UNION ALL SELECT query_id, neighbor_id FROM p{t})"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT query_id, neighbor_id, {t} AS mmr_rank, relevance, mmr_score"
        f" FROM p{t}"
        for t in range(1, k + 1)
    )
    parts.append(
        f"""
SELECT query_id, neighbor_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
       relevance, mmr_score
FROM ({union})
"""
    )
    return "".join(parts)


@query("mmr_diverse_topk", _mmr_oracle(k=5, lam=0.7, shortlist=20))
# Oracle-checked: the per-step argmax cascades from every prior pick,
# which would make a float-scored replay flaky — but mmr_rerank rounds
# pair sims and step scores HALF_UP at 6 dp BEFORE each argmax, so the
# greedy trajectory is a
# pure function of rounded decimals and the unrolled-step CTE above
# replays it exactly (the kmeans-replay recipe applied to greedy
# selection). The literal-Python parity test remains
# (tests/test_setjoin_linededup.py).
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval (operators/similarity.py mmr_rerank,
    Maximal Marginal Relevance): brute-force cosine top-20 candidates per
    query, greedily reranked to 5 picks trading relevance against
    similarity-to-already-selected (lambda=0.7) — near-duplicate hits
    stop crowding the list. Greedy is sequential per query but parallel
    across queries: one Arrow batch per query group via applyInPandas,
    candidate-list-sized, never a corpus collect."""
    from fireball_data_processing_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cands = brute_force_topk(e.filter(F.col("vec_id") < 10), e, k=20, round_dp=6)
    with_vecs = cands.join(
        e.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    )
    out = mmr_rerank(with_vecs, k=5, lam=0.7)
    return out.orderBy("query_id", "mmr_rank")


_WINNOW_PAIRS_ORACLE = _WINNOW_GRAMS_CTE + """,
fps AS (
  SELECT DISTINCT doc_id, list_min(list_slice(g, j, j + 3)) AS fingerprint
  FROM grams, UNNEST(generate_series(1, greatest(len(g) - 3, 1))) AS t(j)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS n_shared_fps
FROM fps a JOIN fps b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


@query("winnow_copy_pairs", _WINNOW_PAIRS_ORACLE)
def q_winnow_copy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing index doing its job (MOSS copy detection): document
    pairs sharing >= 3 fingerprints via a plain equi-join on the
    fingerprint column — on the synthetic corpus this recovers the
    MinHash-found near-dup pairs from an index a fraction of the gram
    count. Contact is confined to shared fingerprints (one shuffle-join
    + pair rollup), never doc pairs."""
    from fireball_data_processing_spark.functions.textstats import (
        winnow_fingerprints,
    )

    from fireball_data_processing_spark.operators.dedup import (
        _pin_if_large,
    )

    d = load_table(spark, sf_dir, "documents")
    # the fingerprint table feeds BOTH sides of the self-join; at corpus
    # scale pin it so the winnowing pipeline (gram hashes +
    # rolling-window argmin) runs once (as in lsh_candidate_pairs /
    # prefix_candidates; gate rationale in _pin_if_large). The cache is
    # the (doc_id, fingerprint) index itself, ~1/window of the gram count.
    fps = _pin_if_large(winnow_fingerprints(d, k=4, window=4))
    a = fps.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = fps.select(F.col("doc_id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 3)
    )


_CONTAM_SPANS_ORACLE = _SPAN_GRAMS_CTE + """,
bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN bg USING (gram)
  WHERE g.doc_id % 10 <> 0
),
""" + _SPAN_ISLANDS_CTE + """
SELECT doc_id,
  MIN(pos)::BIGINT AS span_start,
  (MAX(pos) + 8)::BIGINT AS span_end,
  (MAX(pos) + 8 - MIN(pos))::BIGINT AS span_words
FROM grp GROUP BY doc_id, island
"""


@query("benchmark_contamination_spans", _CONTAM_SPANS_ORACLE)
def q_benchmark_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (operators/dedup.py contamination_spans):
    maximal word spans of training docs (doc_id % 10 != 0) covered by
    8-grams present anywhere in the benchmark partition (doc_id % 10 ==
    0) — cut the leaked span with remove_duplicate_spans (same offsets
    contract), keep the document. Membership via one broadcast semi join
    against the benchmark's distinct gram hashes; islands merge on one
    doc-key exchange."""
    from fireball_data_processing_spark.operators.dedup import contamination_spans

    d = load_table(spark, sf_dir, "documents")
    return contamination_spans(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        k=8,
    )


_VOCAB_GROWTH_ORACLE = """
WITH occ AS (
  SELECT doc_id % 8 AS shard_idx,
         UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
first_seen AS (
  SELECT tok, MIN(shard_idx) AS shard_idx FROM occ GROUP BY tok
),
nt AS (
  SELECT shard_idx, COUNT(*)::BIGINT AS new_types
  FROM first_seen GROUP BY shard_idx
),
ps AS (
  SELECT shard_idx, COUNT(*)::BIGINT AS shard_tokens
  FROM occ GROUP BY shard_idx
)
SELECT ps.shard_idx::INT AS shard_idx, shard_tokens,
  COALESCE(new_types, 0)::BIGINT AS new_types,
  SUM(COALESCE(new_types, 0)) OVER (ORDER BY ps.shard_idx
      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_types,
  SUM(shard_tokens) OVER (ORDER BY ps.shard_idx
      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
FROM ps LEFT JOIN nt USING (shard_idx)
"""


@query("vocab_growth_curve", _VOCAB_GROWTH_ORACLE)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve (operators/profile.py
    vocab_growth): new token types contributed per deterministic corpus
    shard plus cumulative type/occurrence totals — the datasheet curve a
    data-mixing decision reads to see whether more of a source still buys
    vocabulary diversity. One tokenize-explode feeds both the
    first-seen-shard rollup (token-grain groupBy, map-side min) and the
    occurrence totals; the cumulative window runs on the n_shards-row
    frame only."""
    from fireball_data_processing_spark.operators.profile import vocab_growth

    d = load_table(spark, sf_dir, "documents")
    return vocab_growth(d, n_shards=8)


_PPL_GATE_ORACLE = (
    "WITH base AS (" + _BIGRAM_LM_ORACLE + """),
j AS (
  SELECT b.doc_id, d.lang, b.avg_neg_log2_bigram_prob
  FROM base b JOIN documents d USING (doc_id)
),
r AS (
  SELECT doc_id, lang, avg_neg_log2_bigram_prob,
    ROUND(PERCENT_RANK() OVER (
      PARTITION BY lang ORDER BY avg_neg_log2_bigram_prob), 6) AS pctl
  FROM j
)
SELECT doc_id, lang, avg_neg_log2_bigram_prob, pctl
FROM r WHERE pctl <= 0.75
"""
)


@query("lm_perplexity_gate", _PPL_GATE_ORACLE)
def q_lm_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language perplexity filtering, the CCNet recipe end-to-end:
    score every document with the corpus-bigram LM
    (functions/textstats.py bigram_logprob), then keep each LANGUAGE's
    least-perplexing 75% via operators/selection.py
    score_percentile_gate — per-group thresholding is what stops one
    easy language from crowding out the rest. percent_rank is exact
    integer-rank arithmetic over 6-dp-rounded scores, so the cut line is
    engine-reproducible (no interpolated-quantile float boundary). The
    gate window parallelizes across languages; the LM plan is the
    attested one-explode shape."""
    from fireball_data_processing_spark.functions.textstats import bigram_logprob
    from fireball_data_processing_spark.operators.selection import (
        score_percentile_gate,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = bigram_logprob(d, alpha=0.5).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    gated = score_percentile_gate(
        scored, "avg_neg_log2_bigram_prob", "lang", keep_frac=0.75
    )
    return gated.select("doc_id", "lang", "avg_neg_log2_bigram_prob", "pctl")


_OVERLAP_N_HASHES = 16
_OVERLAP_ORACLE = """
WITH words AS (
  SELECT source,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT source, array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
  FROM words, UNNEST(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
  WHERE len(w) >= 3
),
sig AS (
  SELECT source, COUNT(*)::BIGINT AS n,
    {mins}
  FROM sh GROUP BY source
),
common AS (
  SELECT a.source AS ca, b.source AS cb, COUNT(*)::BIGINT AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT a.source AS corpus_a, b.source AS corpus_b,
  ROUND(({matches})::DOUBLE / {nh}, 6) AS est_jaccard,
  ROUND(COALESCE(n_common, 0)::DOUBLE
        / (a.n + b.n - COALESCE(n_common, 0)), 6) AS exact_jaccard,
  a.n AS n_shingles_a, b.n AS n_shingles_b,
  COALESCE(n_common, 0)::BIGINT AS n_common
FROM sig a JOIN sig b ON a.source < b.source
LEFT JOIN common ON ca = a.source AND cb = b.source
""".format(
    mins=",\n    ".join(
        f"MIN(md5('{i}#' || shingle)) AS mh{i}"
        for i in range(_OVERLAP_N_HASHES)
    ),
    matches=" + ".join(
        f"(a.mh{i} = b.mh{i})::INT" for i in range(_OVERLAP_N_HASHES)
    ),
    nh=_OVERLAP_N_HASHES,
)


@query("corpus_overlap_matrix", _OVERLAP_ORACLE)
def q_corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (operators/sketches.py
    corpus_minhash_overlap): MinHash-estimated vs exact Jaccard of every
    source pair's shingle sets — the "how much of B is already in A"
    diagnostic that drives cross-source dedup and mixture weights. The
    sketch is the per-doc MinHash family min-folded to corpus grain
    (mergeable across partitions/days); the exact columns ride the same
    single shingle explode and exist to calibrate the estimator — at
    100 TB only the sketch path runs. Contact in the exact path is
    bounded by shingles SHARED between sources, never document pairs."""
    from fireball_data_processing_spark.operators.sketches import (
        corpus_minhash_overlap,
    )

    d = load_table(spark, sf_dir, "documents")
    return corpus_minhash_overlap(
        d, corpus_col="source", num_hashes=_OVERLAP_N_HASHES, shingle_k=3
    )




def _kmeans_oracle(k: int, n_iter: int) -> str:
    cte, final = _kmeans_cte(k, n_iter)
    return (
        cte
        + f"""
SELECT cid::INT AS cluster_id, COUNT(*)::BIGINT AS n_points,
       ROUND(SUM(d2), 6) AS inertia
FROM {final} GROUP BY cid ORDER BY cluster_id
"""
    )


@query("kmeans_cluster_profile", _kmeans_oracle(k=4, n_iter=2))
def q_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus
    (operators/clustering.py), the SemDeDup/D4 corpus-organization
    stage: deterministic k-lowest-id seeding, two assign->recompute
    rounds, per-cluster size + inertia. Assignment is a PURE projection
    (centroids re-enter as a literal each round — the MLlib broadcast
    shape), so the only per-iteration shuffle is the k x dim mean
    aggregate; the bounded collect is centroid-sized. 6-dp centroid
    rounding per round is the cross-engine reproducibility contract the
    unrolled DuckDB oracle replays exactly."""
    from fireball_data_processing_spark.operators.clustering import (
        kmeans_fit,
        kmeans_summary,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_fit(e, k=4, n_iter=2)
    return kmeans_summary(assigned).orderBy("cluster_id")


_CDC_CHUNKS_ORACLE = _WORDS_NONEMPTY_CTE + """,
occ AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS word,
    CASE WHEN ('0x' || substr(md5(w[i]), 1, 8))::BIGINT % 16 = 0
         THEN 1 ELSE 0 END AS brk
  FROM words, UNNEST(generate_series(1, len(w))) AS t(i)
),
ch AS (
  SELECT doc_id, pos, word,
    COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
  FROM occ
),
chunks AS (
  SELECT doc_id, chunk_idx,
    md5(array_to_string(list(word ORDER BY pos), ' ')) AS chunk_md5,
    COUNT(*)::BIGINT AS n_words
  FROM ch GROUP BY doc_id, chunk_idx
)
SELECT chunk_md5, COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
  COUNT(*)::BIGINT AS n_occurrences, MIN(n_words) AS n_words
FROM chunks GROUP BY chunk_md5 HAVING COUNT(DISTINCT doc_id) >= 2
"""


@query("cdc_chunk_dedup", _CDC_CHUNKS_ORACLE)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup (operators/dedup.py
    content_defined_chunks / cdc_duplicate_chunks — the LBFS/FastCDC
    boundary idea at word granularity): chunks cut where
    md5(word) % 16 == 0, so an insertion re-chunks only the chunk it
    touches and shared boilerplate keeps matching across edited copies —
    the dedup contact fixed-alignment segmentation loses after any edit
    (robustness test-pinned against aligned_segments). Boundary rule is
    portable md5 arithmetic; chunk assembly is one doc-key window + a
    rollup on the same partitioning; duplicate detection groups on the
    chunk hash, never text."""
    from fireball_data_processing_spark.operators.dedup import (
        cdc_duplicate_chunks,
    )

    d = load_table(spark, sf_dir, "documents")
    return cdc_duplicate_chunks(d, boundary_mod=16, min_docs=2)


def _semantic_dedup_kmeans_oracle(k: int, n_iter: int, tau: float) -> str:
    cte, final = _kmeans_cte(k, n_iter)
    return (
        cte
        + f""",
reps AS (
  SELECT cid, MIN(vec_id) AS rep_id, arg_min(v, vec_id) AS rep_vec
  FROM {final} GROUP BY cid
),
scored AS (
  SELECT a.vec_id, a.cid AS bucket, r.rep_id,
    ROUND(
      list_sum(list_transform(generate_series(1, len(a.v)),
               i -> a.v[i] * r.rep_vec[i]))
      / (sqrt(list_sum(list_transform(generate_series(1, len(a.v)),
               i -> a.v[i] * a.v[i])))
       * sqrt(list_sum(list_transform(generate_series(1, len(a.v)),
               i -> r.rep_vec[i] * r.rep_vec[i])))), 6) AS cos_to_rep
  FROM {final} a JOIN reps r USING (cid)
)
SELECT vec_id, bucket::INT AS bucket,
  CASE WHEN vec_id = rep_id THEN NULL ELSE cos_to_rep END AS cos_to_rep
FROM scored
WHERE vec_id = rep_id OR cos_to_rep <= {tau}
"""
    )


@query("semantic_dedup_kmeans", _semantic_dedup_kmeans_oracle(4, 2, 0.3))
def q_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAPER-FAITHFUL SemDeDup (Abbas et al. 2023): k-means clusters the
    corpus FIRST, then each cluster elects its min-id representative and
    drops members whose cosine to it exceeds tau — the published recipe,
    where `semantic_dedup_survivors` substitutes fixed hyperplanes. Now
    fully oracle-checked end to end because the k-means fit itself is
    engine-replayable (operators/clustering.py 6-dp rounding contract):
    the assignment enters as a pure projection (nearest_centroid_expr),
    so the dedup is STILL one exchange — rep election and cosine ride
    the cluster-key window exactly as in the hyperplane form."""
    from fireball_data_processing_spark.operators.clustering import (
        kmeans_fit,
        nearest_centroid_expr,
    )
    from fireball_data_processing_spark.operators.similarity import (
        semantic_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    _, ctrs = kmeans_fit(e, k=4, n_iter=2)
    bucket = nearest_centroid_expr(
        ctrs, "cast(`embedding` as array<double>)"
    )["cid"]
    return semantic_dedup(e, tau=0.3, bucket_expr=bucket)


def _cluster_balance_oracle(k: int, n_iter: int, alpha: float) -> str:
    cte, final = _kmeans_cte(k, n_iter)
    return (
        cte
        + f""",
counts AS (
  SELECT cid, COUNT(*)::BIGINT AS n_rows FROM {final} GROUP BY cid
),
shared AS (
  SELECT cid, n_rows,
    n_rows::DOUBLE / SUM(n_rows) OVER () AS share_raw,
    SUM(n_rows) OVER () AS total
  FROM counts
),
weighted AS (
  SELECT cid, n_rows, total,
    POWER(share_raw, {alpha})
      / SUM(POWER(share_raw, {alpha})) OVER () AS weight_raw
  FROM shared
),
rates AS (
  SELECT cid, n_rows,
    ROUND(LEAST(1.0, total * weight_raw / n_rows), 6) AS keep_rate
  FROM weighted
),
kept AS (
  SELECT a.cid, COUNT(*)::BIGINT AS n_kept
  FROM {final} a JOIN rates r USING (cid)
  WHERE ('0x' || substr(md5('cb1' || CAST(a.vec_id AS VARCHAR)), 1, 8))::BIGINT
        / 4294967296.0 < r.keep_rate
  GROUP BY a.cid
)
SELECT r.cid::INT AS cluster_id, r.n_rows, r.keep_rate,
       COALESCE(k.n_kept, 0)::BIGINT AS n_kept
FROM rates r LEFT JOIN kept k USING (cid)
ORDER BY cluster_id
"""
    )


@query("cluster_balanced_sample", _cluster_balance_oracle(4, 2, 0.5))
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-balanced selection over k-means clusters — the D4 /
    SSL-prototypes diversify step completing the clustering trio (fit ->
    within-cluster dedup -> ACROSS-cluster rebalance): temperature
    rates (share^0.5) up-weight sparse clusters, applied with the
    md5 hash-rank sampler (stable under retries/repartitioning). The
    assignment is a pure projection over the replayable fit, the rate
    table is aggregate-sized and broadcast back, and the filter is a
    codegen-resident scalar predicate — so the whole selection adds ONE
    aggregate exchange over the corpus. Output: per-cluster rows/rate/
    kept, all engine-replayed by the oracle."""
    from fireball_data_processing_spark.operators.clustering import (
        kmeans_fit,
        nearest_centroid_expr,
    )
    from fireball_data_processing_spark.operators.sampling import (
        hash_rank,
        temperature_mixture_rates,
    )

    e = load_table(spark, sf_dir, "embeddings")
    _, ctrs = kmeans_fit(e, k=4, n_iter=2)
    clustered = e.withColumn(
        "cluster_id",
        nearest_centroid_expr(ctrs, "cast(`embedding` as array<double>)")[
            "cid"
        ],
    )
    rates = temperature_mixture_rates(
        clustered, F.col("cluster_id"), alpha=0.5
    ).select(F.col("bucket").alias("cluster_id"), "n_rows", "keep_rate")
    kept = (
        clustered.join(F.broadcast(rates), "cluster_id")
        .filter(hash_rank(F.col("vec_id"), "cb1") < F.col("keep_rate"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        rates.join(kept, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_rows",
            "keep_rate",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("cluster_id")
    )


_CORPUS_V4_ORACLE = _CLEANED_CTE + ",\n" + _DEDUPED_CTE + """,
quality AS (
  SELECT doc_id, source, clean_text,
    len(string_split_regex(trim(clean_text), '\\s+'))::BIGINT AS n_tokens
  FROM deduped
  WHERE len(string_split_regex(trim(clean_text), '\\s+')) BETWEEN 5 AND 5000
),
words AS (
  SELECT doc_id,
    list_filter(string_split(trim(regexp_replace(lower(clean_text),
                '\\s+', ' ', 'g')), ' '), s -> s <> '') AS w
  FROM quality
),
""" + _BIGRAM_COUNTS_CTE + """,
lm AS (
  SELECT doc_id, ROUND(AVG(-log2((cb + 0.5) / (cp + 0.5 * vsz))), 6) AS s
  FROM cnt, v GROUP BY doc_id
),
gated AS (
  SELECT * FROM (
    SELECT q.doc_id, q.source, q.n_tokens,
      ROUND(PERCENT_RANK() OVER (
        PARTITION BY q.source ORDER BY lm.s), 6) AS pctl,
      lm.s
    FROM quality q JOIN lm USING (doc_id)
  ) WHERE pctl <= 0.75
),
filled AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (ORDER BY ROUND(1.0 / (1.0 + s), 6) DESC, doc_id
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM gated
),
kept AS (SELECT * FROM filled WHERE cum_tokens <= 12000)
SELECT q.source,
  COUNT(*)::BIGINT AS n_quality,
  COUNT(g.doc_id)::BIGINT AS n_gated,
  COUNT(k.doc_id)::BIGINT AS n_budget,
  COALESCE(SUM(k.n_tokens), 0)::BIGINT AS budget_tokens
FROM quality q
LEFT JOIN gated g USING (doc_id)
LEFT JOIN kept k ON k.doc_id = q.doc_id
GROUP BY q.source
"""


@query("corpus_pipeline_v4_summary", _CORPUS_V4_ORACLE)
def q_corpus_pipeline_v4_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v4 — the LM-quality-gated, token-budgeted pipeline:
    clean -> exact dedup -> token band -> CCNet-style perplexity gate
    (bigram LM self-trained on the survivors, per-SOURCE percent_rank
    cut) -> fill a 12k-token budget with the least-perplexing documents
    first (plans/corpus_pipeline.py perplexity_stage + budget_stage).
    One lazy composition; the quality and gated frames are persisted at
    their fan-out points (LM occurrences/vocab/join-back; summary +
    budget consumers) per the module rule. The per-source audit counts
    the survivors of each stage and the budget's token mass."""
    from fireball_data_processing_spark.plans.corpus_pipeline import (
        budget_stage,
        clean_stage,
        dedup_stage,
        perplexity_stage,
        quality_stage,
    )

    d = load_table(spark, sf_dir, "documents")
    quality = quality_stage(dedup_stage(clean_stage(d))).persist()
    gated = perplexity_stage(quality).persist()
    budget = budget_stage(gated, budget=12_000)
    q_c = quality.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_quality")
    )
    g_c = gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gated")
    )
    b_c = budget.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_budget"),
        F.sum("n_tokens").cast("bigint").alias("budget_tokens"),
    )
    return (
        q_c.join(g_c, "source", "left")
        .join(b_c, "source", "left")
        .select(
            "source",
            "n_quality",
            F.coalesce("n_gated", F.lit(0)).cast("bigint").alias("n_gated"),
            F.coalesce("n_budget", F.lit(0)).cast("bigint").alias("n_budget"),
            F.coalesce("budget_tokens", F.lit(0))
            .cast("bigint")
            .alias("budget_tokens"),
        )
    )


_RP_SKETCH_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
""" + _RP_SIGNS_CTE + """
SELECT e.vec_id, s.j::INT AS dim_idx,
  ROUND(list_sum(list_transform(generate_series(1, len(e.v)),
        i -> e.v[i] * s.signs[i])) / sqrt(16.0), 6) AS component
FROM e, s
"""


@query("embedding_rp_sketch", _RP_SKETCH_ORACLE)
def q_embedding_rp_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection sketch (operators/
    similarity.py rp_sketch_components): every embedding reduced 64 ->
    16 dims through a ±1 Achlioptas matrix derived from md5 parity — a
    PUBLIC function of (row, dim), so the DuckDB oracle rebuilds the
    identical matrix and replays every dot product (seeded-RNG matrices
    can't be oracle-checked; md5 ones can, the package-wide portability
    rule). Sketch-then-ship is the 100 TB shape: 4x less data crosses
    the wire to the ANN index while angles are approximately preserved
    (JL guarantee, property-tested). Pure projection + one explode,
    zero exchanges."""
    from fireball_data_processing_spark.operators.similarity import (
        rp_sketch_components,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return rp_sketch_components(e, out_dim=16)


_RP_ANN_ORACLE = """
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
""" + _RP_SIGNS_CTE + """,
sk AS (
  SELECT vec_id, list(comp ORDER BY j) AS sv FROM (
    SELECT e.vec_id, s.j,
      ROUND(list_sum(list_transform(generate_series(1, 64),
            i -> e.v[i]::DOUBLE * s.signs[i])) / sqrt(16.0), 6) AS comp
    FROM e, s
  ) GROUP BY vec_id
),
""" + _SKETCH_QUERIES_CTE + f""",
c AS (
  SELECT e.vec_id AS neighbor_id, e.v AS cv, sk.sv AS cs
  FROM e JOIN sk USING (vec_id)
),
s1 AS (
  SELECT query_id, neighbor_id, qv, cv,
    ROUND({_sql_cosine("qs", "cs", 16)}, 6) AS ss
  FROM q, c WHERE neighbor_id <> query_id
),
r1 AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ss DESC, neighbor_id ASC) AS rn
    FROM s1
  ) WHERE rn <= 20
),
r2 AS (
  SELECT query_id, neighbor_id,
    ROUND({_sql_cosine("qv", "cv", 64)}, 6) AS cosine_sim
  FROM r1
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM r2
) WHERE rank <= 5
"""


@query("rp_ann_rerank_topk", _RP_ANN_ORACLE)
def q_rp_ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN over the JL sketch (operators/similarity.py
    rp_ann_topk) — retrieve-then-rerank, the production vector-store
    shape: a 20-deep shortlist per query scored on the CHEAP 16-dim
    sketch cosine (4x less arithmetic and bytes than full vectors), then
    exact 64-dim cosine reranks only the shortlist to top-5. Same output
    contract as ann_cosine_topk, so recall against the exact path is a
    direct join (test-pinned). Both ranks window over rounded scores
    with id tie-breaks; the oracle replays sketch construction and both
    stages."""
    from fireball_data_processing_spark.operators.similarity import rp_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    return rp_ann_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, shortlist=20, out_dim=16
    )


_SKETCH_PRELUDE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
""" + _RP_SIGNS_CTE + """,
sk AS (
  SELECT vec_id, list(comp ORDER BY j) AS sv FROM (
    SELECT e.vec_id, s.j,
      ROUND(list_sum(list_transform(generate_series(1, 64),
            i -> e.v[i] * s.signs[i])) / sqrt(16.0), 6) AS comp
    FROM e, s
  ) GROUP BY vec_id
)"""


def _rp_ivf_oracle(k: int, n_probe: int, n_cells: int, n_iter: int) -> str:
    cte, final = _kmeans_cte(
        n_cells, n_iter, prelude=_SKETCH_PRELUDE, src="sk", vec="sv"
    )
    return (
        cte
        + ",\n"
        + _SKETCH_QUERIES_CTE
        + f""",
pd AS (
  SELECT q.query_id, c.cid,
    list_sum(list_transform(generate_series(1, 16),
             i -> (q.qs[i] - c.cv[i]) * (q.qs[i] - c.cv[i]))) AS d2
  FROM q, c{n_iter}f c
),
probe AS (
  SELECT query_id, cid FROM pd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY d2, cid) <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, q.qv, ce.v AS cv
  FROM probe p
  JOIN {final} a ON a.cid = p.cid
  JOIN q ON q.query_id = p.query_id
  JOIN e ce ON ce.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
r AS (
  SELECT query_id, neighbor_id,
    ROUND({_sql_cosine("qv", "cv", 64)}, 6) AS cosine_sim
  FROM cand
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM r
) WHERE rank <= {k}
"""
    )


@query("rp_ivf_topk_neighbors", _rp_ivf_oracle(k=5, n_probe=2, n_cells=4, n_iter=2))
def q_rp_ivf_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the coarse quantizer trained IN SKETCH SPACE
    (operators/similarity.py rp_ivf_topk) — the genuinely sub-linear
    100 TB vector-search path, composing the JL sketch with the
    engine-replayable k-means: sketches shrink fit and probe arithmetic
    4x, cells bound candidate generation to n_probe/n_cells of the
    corpus per query (no cross join anywhere — contrast
    rp_ann_rerank_topk's full stage-1 scan), and the exact full-dim
    cosine reranks only cell members. n_probe = n_cells degenerates to
    brute_force_topk exactly (test-pinned recall=1 calibration). Fully
    oracle-checked end to end: the DuckDB replay rebuilds the md5
    sketch matrix, unrolls the Lloyd fit over sketches, and re-runs
    probe + rerank — an ANN whose every candidate and score is
    value-hash-verified cross-engine."""
    from fireball_data_processing_spark.operators.similarity import rp_ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    return rp_ivf_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, n_probe=2, n_cells=4,
        n_iter=2, out_dim=16,
    )


_FROZEN_GATE_ORACLE = _WORDS_NONEMPTY_CTE + ",\n" + _BIGRAM_COUNTS_CTE + """,
lmscore AS (
  SELECT doc_id,
    ROUND(AVG(-log2((cb + 0.5) / (cp + 0.5 * vsz))), 6)
      AS avg_neg_log2_bigram_prob,
    COUNT(*)::BIGINT AS n_bigrams
  FROM cnt, v
  GROUP BY doc_id
),
gw AS (
  SELECT doc_id, text,
    regexp_split_to_array(trim(text), '\\s+') AS gwords,
    string_split(text, chr(10)) AS lines
  FROM documents
),
g AS (
  SELECT doc_id,
    (len(gwords) >= 3 AND len(gwords) <= 100000
     AND list_sum(list_transform(gwords, x -> length(x)))::DOUBLE
         / len(gwords) BETWEEN 3.0 AND 10.0
     AND ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
         / len(gwords) <= 0.1
     AND len(list_filter(gwords, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
         / len(gwords) >= 0.8
     AND len(list_filter(lines, l -> starts_with(l, '- ')
         OR starts_with(l, '* ') OR starts_with(l, chr(8226))))::DOUBLE
         / len(lines) <= 0.9
     AND len(list_filter(lines, l -> l LIKE '%...'))::DOUBLE
         / len(lines) <= 0.3
    ) AS passes_gopher
  FROM gw
)
SELECT g.doc_id, g.passes_gopher,
  l.avg_neg_log2_bigram_prob,
  COALESCE(l.n_bigrams, 0)::BIGINT AS n_bigrams,
  COALESCE(l.avg_neg_log2_bigram_prob <= 4.95, FALSE) AS passes_lm,
  (g.passes_gopher
   AND COALESCE(l.avg_neg_log2_bigram_prob <= 4.95, FALSE)) AS passes_quality
FROM g LEFT JOIN lmscore l USING (doc_id)
"""


@query("frozen_lm_quality_gate", _FROZEN_GATE_ORACLE)
def q_frozen_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest quality gate's batch twin (streaming/
    quality_stream.py quality_gate): Gopher rules + perplexity under a
    FROZEN bigram LM with a FIXED threshold — the CCNet deployment
    shape, where batch jobs train the LM and calibrate the cut and the
    stream applies the constant (an in-stream percentile would make
    admission depend on micro-batch composition). Here the LM is
    trained on the same corpus it scores, which the parity test pins
    equal to the self-trained bigram_logprob — so the oracle replays
    training, lookup, smoothing fallback (unseen bigram/context ->
    pure smoothing mass), both verdict legs, and the AND. Relaxed
    word-count/stop-word bounds keep the synthetic corpus's verdicts
    mixed. The streaming form (stream_quality_gate) runs this exact
    function per micro-batch with restart/idempotency tests."""
    from fireball_data_processing_spark.streaming.quality_stream import (
        corpus_lm_index,
        quality_gate,
    )

    d = load_table(spark, sf_dir, "documents")
    lm = corpus_lm_index(d)
    out = quality_gate(
        d, lm, 4.95, gopher_kwargs=dict(min_words=3, min_stop_hits=0)
    )
    return out.select(
        "doc_id", "passes_gopher", "avg_neg_log2_bigram_prob", "n_bigrams",
        "passes_lm", "passes_quality",
    )


_HARD_NEG_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROUND({_sql_cosine("q.qv", "e.v", 64)}, 6) AS cosine_sim
  FROM q, e WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM s WHERE cosine_sim < 0.2
) WHERE rank <= 5
"""


@query("hard_negative_mining", _HARD_NEG_ORACLE)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retriever/contrastive training
    (operators/similarity.py hard_negative_topk — the DPR/Contriever
    recipe): per anchor, the k most similar vectors BELOW the near-dup
    band (cosine < tau_dup), so positives/copies can't poison the loss
    as false negatives while the kept rows stay maximally confusable.
    The dup-band filter runs before the rank window (excluded rows
    never occupy shortlist slots — the exclusion provably bites,
    test-pinned against plain top-k); scores rounded with id tie-breaks
    so the oracle replays band + rank exactly. tau_dup=0.2 sits inside
    the synthetic corpus's similarity range (p99 pairwise 0.29). At
    100 TB the same band filter + rank applies to rp_ivf_topk's
    cell-bounded candidates instead of the labeled exact contact."""
    from fireball_data_processing_spark.operators.similarity import (
        hard_negative_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, tau_dup=0.2
    )


def _semantic_curation_oracle(
    k: int, n_iter: int, tau: float, alpha: float
) -> str:
    cte, final = _kmeans_cte(k, n_iter)
    return (
        cte
        + f""",
reps AS (
  SELECT cid, MIN(vec_id) AS rep_id, arg_min(v, vec_id) AS rep_vec
  FROM {final} GROUP BY cid
),
sdscore AS (
  SELECT a.vec_id, a.cid, r.rep_id,
    ROUND(
      list_sum(list_transform(generate_series(1, len(a.v)),
               i -> a.v[i] * r.rep_vec[i]))
      / (sqrt(list_sum(list_transform(generate_series(1, len(a.v)),
               i -> a.v[i] * a.v[i])))
       * sqrt(list_sum(list_transform(generate_series(1, len(a.v)),
               i -> r.rep_vec[i] * r.rep_vec[i])))), 6) AS cos_to_rep
  FROM {final} a JOIN reps r USING (cid)
),
surv AS (
  SELECT vec_id, cid FROM sdscore WHERE vec_id = rep_id OR cos_to_rep <= {tau}
),
counts AS (SELECT cid, COUNT(*)::BIGINT AS n_surv FROM surv GROUP BY cid),
shared AS (
  SELECT cid, n_surv, n_surv::DOUBLE / SUM(n_surv) OVER () AS share_raw,
    SUM(n_surv) OVER () AS total
  FROM counts
),
weighted AS (
  SELECT cid, n_surv, total,
    POWER(share_raw, {alpha})
      / SUM(POWER(share_raw, {alpha})) OVER () AS weight_raw
  FROM shared
),
rates AS (
  SELECT cid, n_surv,
    ROUND(LEAST(1.0, total * weight_raw / n_surv), 6) AS keep_rate
  FROM weighted
),
kept AS (
  SELECT s.cid, COUNT(*)::BIGINT AS n_selected
  FROM surv s JOIN rates r USING (cid)
  WHERE ('0x' || substr(md5('sc1' || CAST(s.vec_id AS VARCHAR)), 1, 8))::BIGINT
        / 4294967296.0 < r.keep_rate
  GROUP BY s.cid
),
sizes AS (SELECT cid, COUNT(*)::BIGINT AS n_points FROM {final} GROUP BY cid)
SELECT z.cid::INT AS cluster_id, z.n_points,
  c.n_surv AS n_after_dedup, r.keep_rate,
  COALESCE(kp.n_selected, 0)::BIGINT AS n_selected
FROM sizes z
JOIN counts c USING (cid)
JOIN rates r USING (cid)
LEFT JOIN kept kp USING (cid)
ORDER BY cluster_id
"""
    )


@query("semantic_curation_summary", _semantic_curation_oracle(4, 2, 0.3, 0.5))
def q_semantic_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering trio as ONE pipeline — the published semantic-
    curation recipe end to end (cluster -> dedup within -> rebalance
    across; Abbas et al. 2023 SemDeDup + the D4/SSL-prototypes
    diversify step): a single replayable k-means fit feeds (a) SemDeDup
    survivor election within each cluster and (b) temperature keep-rates
    (share^0.5) over the SURVIVOR mix, applied with the md5 hash-rank
    sampler. Per-cluster audit: raw size, post-dedup size, keep rate,
    selected count. One fit + one dedup exchange + one rates aggregate;
    the survivor frame persists across its two consumers (the house
    capstone pattern). Fully oracle-replayed: the DuckDB CTE chains the
    unrolled Lloyd fit, rep election, cosine gate, temperature math,
    and hash-rank selection."""
    from fireball_data_processing_spark.operators.clustering import (
        kmeans_fit,
        nearest_centroid_expr,
    )
    from fireball_data_processing_spark.operators.sampling import (
        hash_rank,
        temperature_mixture_rates,
    )
    from fireball_data_processing_spark.operators.similarity import (
        semantic_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    _, ctrs = kmeans_fit(e, k=4, n_iter=2)
    bucket = nearest_centroid_expr(
        ctrs, "cast(`embedding` as array<double>)"
    )["cid"]
    sizes = (
        e.select(bucket.alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    )
    surv = semantic_dedup(e, tau=0.3, bucket_expr=bucket).persist()
    rates = temperature_mixture_rates(surv, F.col("bucket"), alpha=0.5).select(
        F.col("bucket").alias("cluster_id"),
        F.col("n_rows").alias("n_after_dedup"),
        "keep_rate",
    )
    kept = (
        surv.withColumnRenamed("bucket", "cluster_id")
        .join(F.broadcast(rates.select("cluster_id", "keep_rate")), "cluster_id")
        .filter(hash_rank(F.col("vec_id"), "sc1") < F.col("keep_rate"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_selected"))
    )
    return (
        sizes.join(rates, "cluster_id")
        .join(kept, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_points",
            "n_after_dedup",
            "keep_rate",
            F.coalesce("n_selected", F.lit(0)).cast("bigint").alias(
                "n_selected"
            ),
        )
        .orderBy("cluster_id")
    )


_FERTILITY_ORACLE = """
WITH m AS (
  SELECT source,
    len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS toks,
    len(list_filter(string_split_regex(trim(text), '\\s+'), s -> s <> ''))
      AS words,
    octet_length(encode(text)) AS bytes
  FROM documents
)
SELECT source,
  COUNT(*)::BIGINT AS n_docs,
  SUM(toks)::BIGINT AS n_tokens,
  ROUND(SUM(toks)::DOUBLE / SUM(words), 6) AS tokens_per_word,
  ROUND(SUM(bytes)::DOUBLE / SUM(toks), 6) AS bytes_per_token
FROM m GROUP BY source
"""


@query("tokenizer_fertility_stats", _FERTILITY_ORACLE)
def q_tokenizer_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility datasheet per source — tokens-per-word and
    bytes-per-token, the standard multilingual tokenizer-efficiency
    metrics (fertility > ~2 means the tokenizer fragments that source's
    text; bytes/token is the compression rate the context window
    actually buys). Token counts use the BPE-flavored regex estimator
    (functions/textstats.py bpe_ish_token_count), words the whitespace
    split, bytes the UTF-8 octet length — all pure per-row expressions
    feeding one aggregation: a scan + groupBy, the same shape at
    100 TB. Ratios computed corpus-grain (sum/sum, not avg-of-ratios —
    long docs weigh more, the accounting a token-budget planner needs)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = F.size(F.regexp_extract_all(t, F.lit(r"\w+|[^\w\s]"), 0))
    words = F.size(
        F.filter(F.split(F.trim(t), r"\s+"), lambda s: s != "")
    )
    nbytes = F.octet_length(t)
    return (
        d.select(
            "source",
            toks.alias("__t"),
            words.alias("__w"),
            nbytes.alias("__b"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__t").cast("bigint").alias("n_tokens"),
            F.round(F.sum("__t") / F.sum("__w"), 6).alias("tokens_per_word"),
            F.round(F.sum("__b") / F.sum("__t"), 6).alias("bytes_per_token"),
        )
    )


_THRESHOLD_SWEEP_ORACLE = _LSH_JACCARD_CTE + """,
hits AS (
  SELECT g.threshold_pct, j.id_a, j.id_b
  FROM jp j JOIN grid g ON j.jaccard >= g.threshold_pct / 100.0
),
pc AS (SELECT threshold_pct, COUNT(*) AS n_pairs FROM hits GROUP BY threshold_pct),
dc AS (
  SELECT threshold_pct, COUNT(DISTINCT doc) AS n_docs FROM (
    SELECT threshold_pct, id_a AS doc FROM hits
    UNION ALL SELECT threshold_pct, id_b FROM hits
  ) GROUP BY threshold_pct
)
SELECT g.threshold_pct,
  COALESCE(pc.n_pairs, 0) AS n_pairs,
  COALESCE(dc.n_docs, 0) AS n_docs
FROM grid g
LEFT JOIN pc ON pc.threshold_pct = g.threshold_pct
LEFT JOIN dc ON dc.threshold_pct = g.threshold_pct
"""


@query("dedup_threshold_sweep", _THRESHOLD_SWEEP_ORACLE)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold datasheet (operators/dedup.py
    score_threshold_sweep): the verified near-dup pairs swept over nine
    Jaccard cutoffs 0.1..0.9 — per threshold, how many pairs qualify and
    how many distinct documents they touch, i.e. the
    removal-rate-vs-threshold curve a pipeline owner reads before
    committing to a cutoff (Lee et al. 2021 pick theirs empirically;
    this emits the whole curve in one pass). Pair generation is the
    shared LSH pipeline (signatures+shingles from ONE persisted grouped
    pass); the sweep itself is a 9-row broadcast grid against the
    candidate-bounded pair frame plus two grouped aggregates — corpus
    text never enters the sweep."""
    from fireball_data_processing_spark.operators.dedup import score_threshold_sweep

    d = load_table(spark, sf_dir, "documents")
    j = _lsh_jaccard_pairs(d)
    return score_threshold_sweep(j).orderBy("threshold_pct")


_CLUSTER_HIST_ORACLE = _LSH_CLOSURE_CTE + """,
comp AS (SELECT a AS vertex, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component),
hist AS (
  SELECT cluster_size, COUNT(*) AS n_clusters,
         cluster_size * COUNT(*) AS n_docs
  FROM sizes GROUP BY cluster_size
)
SELECT * FROM hist
UNION ALL
SELECT 1 AS cluster_size,
  (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp) AS n_clusters,
  (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp) AS n_docs
"""


@query("dup_cluster_size_histogram", _CLUSTER_HIST_ORACLE)
def q_dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-mass histogram (operators/dedup.py
    cluster_size_histogram): LSH candidate pairs closed into connected
    components, then the cluster-size distribution — n_clusters and
    duplicate mass (n_docs) per size, with a singleton row for documents
    in no pair so sum(n_docs) equals the corpus size exactly. The shape
    answer (two mirror copies everywhere vs a few boilerplate
    megaclusters) that decides whether dedup is a pair problem or a
    cluster problem; Lee et al. 2021's cluster-size figure is this
    table. Both aggregates are over pair-bounded component labels; the
    oracle closes the same graph with a recursive CTE."""
    from fireball_data_processing_spark.operators.dedup import cluster_size_histogram

    d = load_table(spark, sf_dir, "documents")
    comp = _lsh_components(d)
    total = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_tot"))
    return cluster_size_histogram(comp, n_total_docs=total).orderBy(
        "cluster_size"
    )


_TOKEN_MASS_SWEEP_ORACLE = _LSH_JACCARD_CTE + """,
docs_hit AS (
  SELECT DISTINCT threshold_pct, doc FROM (
    SELECT g.threshold_pct, j.id_a AS doc
    FROM jp j JOIN grid g ON j.jaccard >= g.threshold_pct / 100.0
    UNION ALL
    SELECT g.threshold_pct, j.id_b
    FROM jp j JOIN grid g ON j.jaccard >= g.threshold_pct / 100.0
  )
),
tok AS (
  SELECT doc_id, len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS toks
  FROM documents
),
agg AS (
  SELECT h.threshold_pct,
    COUNT(*)::BIGINT AS n_docs,
    SUM(t.toks)::BIGINT AS n_tokens
  FROM docs_hit h JOIN tok t ON t.doc_id = h.doc
  GROUP BY h.threshold_pct
)
SELECT g.threshold_pct,
  COALESCE(a.n_docs, 0) AS n_docs,
  COALESCE(a.n_tokens, 0) AS n_tokens
FROM grid g LEFT JOIN agg a ON a.threshold_pct = g.threshold_pct
"""


@query("dedup_token_mass_sweep", _TOKEN_MASS_SWEEP_ORACLE)
def q_dedup_token_mass_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token mass at risk per dedup threshold (operators/dedup.py
    threshold_doc_hits): the sweep's curve re-denominated in the unit a
    token-budget planner reasons in — per cutoff, the distinct documents
    touched and the SUM of their BPE-ish token counts (a handful of
    giant boilerplate docs can carry more tokens than thousands of small
    mirrors, which the doc-count curve hides). Per-(threshold, doc)
    distinct rows stay pair-bounded x 9; the corpus-sized token frame
    streams against the BROADCAST hit set; zero rows restored by a grid
    left-merge."""
    from fireball_data_processing_spark.operators.dedup import (
        threshold_doc_hits,
        threshold_grid,
    )

    d = load_table(spark, sf_dir, "documents")
    j = _lsh_jaccard_pairs(d)
    # pair-bounded x 9 rows, consumed by TWO broadcast builds below —
    # pin so the band-join + jaccard subtree executes once
    hits = threshold_doc_hits(j).persist()
    # semi-join BEFORE tokenizing (project-early, inverted:
    # the expensive column is COMPUTED, so compute it only for docs the
    # broadcast hit set keeps — the regex runs once per pair-bounded
    # survivor instead of once per corpus row; the optimizer does not
    # reorder a user projection past a join on its own)
    toks = (
        d.select("doc_id", "text")
        .join(F.broadcast(hits.select("doc_id").distinct()), "doc_id")
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
            .cast("bigint")
            .alias("__toks"),
        )
    )
    agg = (
        toks.join(F.broadcast(hits), "doc_id")
        .groupBy("threshold_pct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__toks").cast("bigint").alias("n_tokens"),
        )
    )
    grid = threshold_grid(spark)
    return (
        grid.join(F.broadcast(agg), "threshold_pct", "left")
        .select(
            "threshold_pct",
            F.coalesce("n_docs", F.lit(0).cast("bigint")).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        )
        .orderBy("threshold_pct")
    )


_QUALITY_SURVIVORS_ORACLE = _LSH_CLOSURE_CTE + """,
comp AS (SELECT a AS vertex, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
wc AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS score
  FROM documents
),
r AS (
  SELECT c.component AS cluster_id, c.vertex AS survivor_id,
    w.score AS survivor_score,
    ROW_NUMBER() OVER (
      PARTITION BY c.component ORDER BY w.score DESC NULLS LAST, c.vertex ASC
    ) AS rk,
    COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
  FROM comp c LEFT JOIN wc w ON w.doc_id = c.vertex
)
SELECT cluster_id, survivor_id, survivor_score, cluster_size
FROM r WHERE rk = 1
"""


@query("dedup_quality_survivors", _QUALITY_SURVIVORS_ORACLE)
def q_dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection (operators/dedup.py
    quality_survivors): LSH candidate pairs closed into clusters, then
    ONE survivor per cluster by (token count desc, id asc) — keep the
    LONGEST copy, not the lowest-id one; which duplicate survives
    decides what the model trains on, and min-id is an accident of
    ingestion order. Component labels (pair-bounded) broadcast against
    the streamed corpus-sized score frame; the per-cluster argmax is
    the WindowGroupLimit row_number shape. The oracle closes the same
    graph recursively and replays the same (score, id) tie-break."""
    from fireball_data_processing_spark.operators.dedup import quality_survivors

    d = load_table(spark, sf_dir, "documents")
    comp = _lsh_components(d)
    scores = d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
        .cast("bigint")
        .alias("score"),
    )
    return quality_survivors(comp, scores).orderBy("cluster_id")


def _pq_subspace_ctes(
    m: int, ks: int, n_iter: int, src: str, prelude0: str
) -> tuple[str, str, str, str]:
    """One namespaced unrolled-Lloyd chain (``p{j}``) per subspace slice
    CTE ``{src}{j}``, the first chain opening with ``prelude0``. Returns
    the chains' text, the JOINs and columns that attach each row's ``m``
    codes (``a{j}``, ``c{j}``) and the JOINs of the final codebooks
    ``b{j}`` onto a codes row ``x``."""
    ctes, finals, cfin = [], [], []
    for j in range(m):
        cte, fin = _kmeans_cte(
            ks,
            n_iter,
            prelude=(prelude0 if j == 0 else ""),
            src=f"{src}{j}",
            ns=f"p{j}",
        )
        ctes.append(cte)
        finals.append(fin)
        cfin.append(f"p{j}c{n_iter}f")
    codes_joins = " ".join(
        f"JOIN {finals[j]} a{j} USING (vec_id)" for j in range(m)
    )
    codes_cols = ", ".join(f"a{j}.cid AS c{j}" for j in range(m))
    book_joins = "\n  ".join(
        f"JOIN {cfin[j]} b{j} ON b{j}.cid = x.c{j}" for j in range(m)
    )
    return "".join(ctes), codes_joins, codes_cols, book_joins


def _pq_oracle(
    m: int, ks: int, n_iter: int, dim: int, n_queries: int, k: int
) -> str:
    """PQ/ADC oracle: one namespaced unrolled-Lloyd chain per subspace
    (the ``ns`` parameter of :func:`_kmeans_cte`), then the encoding
    argmin joins and the same m-lookup ADC sum + (d2, id) rank the
    Spark plan computes."""
    sub = dim // m
    slices = ", ".join(
        f"s{j} AS (SELECT vec_id, v[{j * sub + 1}:{(j + 1) * sub}] AS v FROM e)"
        for j in range(m)
    )
    prelude0 = (
        "\nWITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        + slices
    )
    ctes, codes_joins, codes_cols, book_joins = _pq_subspace_ctes(
        m, ks, n_iter, "s", prelude0
    )
    adc_terms = "\n      + ".join(
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i -> (q.v[i + {j * sub}] - b{j}.cv[i]) * (q.v[i + {j * sub}] - b{j}.cv[i])))"
        for j in range(m)
    )
    return (
        ctes
        + f""",
codes AS (
  SELECT e.vec_id, {codes_cols}
  FROM e {codes_joins}
),
qs AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {n_queries}),
adc AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
    ROUND({adc_terms}, 6) AS adc_d2
  FROM qs q, codes x
  {book_joins}
  WHERE q.query_id <> x.vec_id
)
SELECT query_id, neighbor_id, adc_d2, rank FROM (
  SELECT adc.*, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {k}
"""
    )


@query(
    "pq_adc_topk_neighbors",
    _pq_oracle(m=4, ks=4, n_iter=1, dim=64, n_queries=5, k=5),
)
def q_pq_adc_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance lookup
    (operators/similarity.py pq_fit/pq_topk — Jégou et al. 2011, the
    Faiss PQx recipe): every vector stored as 4 codes from 4
    independently k-means'd subspaces (dim/m x 8 compression at
    ks<=256), each query precomputing a 4 x 4 exact-distance table so
    the per-pair cost is 4 lookups + adds — the MEMORY-side scale path
    completing the retrieval ladder (JL sketch = compute, IVF cells =
    candidates, PQ codes = bytes). Measured recall@5 on the synthetic
    embeddings (sf0.01, margins deliberately below quantization
    resolution) climbs 0.16 -> 0.24 -> 0.28 -> 0.40 as the code budget
    grows (m,ks,iters) = (4,4,1) -> (4,8,2) -> (8,8,2) -> (16,8,2) —
    the monotone compute/recall dial, same honesty contract as the
    rp_ann shortlist curve. Fully engine-replayable: the oracle re-runs
    all four namespaced subspace Lloyd fits, the encoding argmin, and
    the identical lookup sum with (d2, id) tie-breaks."""
    from fireball_data_processing_spark.operators.similarity import (
        pq_fit,
        pq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(e, m=4, ks=4, n_iter=1)
    q = e.filter(F.col("vec_id") < 5)
    return pq_topk(q, e, books, k=5).orderBy("query_id", "rank")


def _ivfpq_oracle(
    n_cells: int,
    n_probe: int,
    m: int,
    ks: int,
    coarse_n_iter: int,
    pq_n_iter: int,
    dim: int,
    n_queries: int,
    k: int,
) -> str:
    """IVFPQ oracle: the coarse unrolled-Lloyd chain over full vectors,
    the residual CTE (vector minus its FINAL cell centroid — the
    ``a{t}``/``c{t}f`` pair), one namespaced subspace fit per residual
    slice, then encoding argmin, full-space cell probing, the
    per-(query, cell) residual, and the same m-lookup ADC sum +
    (d2, id) rank the Spark plan computes."""
    sub = dim // m
    coarse_cte, coarse_final = _kmeans_cte(n_cells, coarse_n_iter)
    ccf = f"c{coarse_n_iter}f"
    slices = ", ".join(
        f"rs{j} AS (SELECT vec_id, v[{j * sub + 1}:{(j + 1) * sub}] AS v "
        "FROM res)"
        for j in range(m)
    )
    res = f""",
res AS (
  SELECT a.vec_id, a.cid AS cell,
    list_transform(generate_series(1, {dim}), i -> a.v[i] - c.cv[i]) AS v
  FROM {coarse_final} a JOIN {ccf} c USING (cid)
),
{slices}"""
    ctes, codes_joins, codes_cols, book_joins = _pq_subspace_ctes(
        m, ks, pq_n_iter, "rs", ""
    )
    adc_terms = "\n      + ".join(
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i -> (qr.rv[i + {j * sub}] - b{j}.cv[i]) "
        f"* (qr.rv[i + {j * sub}] - b{j}.cv[i])))"
        for j in range(m)
    )
    return (
        coarse_cte
        + res
        + ctes
        + f""",
codes AS (
  SELECT r.vec_id, r.cell, {codes_cols}
  FROM res r {codes_joins}
),
qs AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {n_queries}),
pd AS (
  SELECT q.query_id, c.cid,
    list_sum(list_transform(generate_series(1, {dim}),
             i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS d2
  FROM qs q, {ccf} c
),
probe AS (
  SELECT query_id, cid FROM pd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY d2, cid) <= {n_probe}
),
qr AS (
  SELECT p.query_id, p.cid AS cell,
    list_transform(generate_series(1, {dim}), i -> q.v[i] - c.cv[i]) AS rv
  FROM probe p JOIN qs q USING (query_id) JOIN {ccf} c USING (cid)
),
adc AS (
  SELECT qr.query_id, x.vec_id AS neighbor_id,
    ROUND({adc_terms}, 6) AS adc_d2
  FROM qr JOIN codes x ON x.cell = qr.cell
  {book_joins}
  WHERE qr.query_id <> x.vec_id
)
SELECT query_id, neighbor_id, adc_d2, rank FROM (
  SELECT adc.*, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {k}
"""
    )


@query(
    "ivfpq_topk_neighbors",
    _ivfpq_oracle(
        n_cells=4, n_probe=2, m=4, ks=4, coarse_n_iter=1, pq_n_iter=1,
        dim=64, n_queries=5, k=5,
    ),
)
def q_ivfpq_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (operators/similarity.py ivfpq_fit/
    ivfpq_topk — Jégou et al. 2011 §IV "IVFADC", the Faiss IVFx,PQy
    index): coarse k-means cells bound CANDIDATES (each query scans
    n_probe/n_cells of the corpus), product-quantized RESIDUALS bound
    BYTES (each stored vector is m codes, and residuals quantize finer
    than raw vectors at equal budget — the reason IVFPQ beats flat PQ),
    ADC makes the per-candidate cost m lookups. The index frame is a
    pure projection (cell + codes, no vectors), the query batch
    broadcasts its per-probed-cell ADC tables, top-k is two-phase
    WindowGroupLimit. Fully engine-replayable: the oracle re-runs the
    coarse Lloyd fit, the residual computation against final centroids,
    all m namespaced subspace fits, encoding, probing, and the lookup
    sum — every candidate and score value-hash-verified cross-engine."""
    from fireball_data_processing_spark.operators.similarity import ivfpq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        e.filter(F.col("vec_id") < 5), e, k=5, n_cells=4, n_probe=2,
        m=4, ks=4, coarse_n_iter=1, pq_n_iter=1,
    ).orderBy("query_id", "rank")


@query(
    "weighted_source_sample",
    """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
    ROUND(POWER(('0x' || substr(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                / 4294967296.0, 1.0 / n_chars), 12) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT source, doc_id, n_chars::BIGINT AS n_chars, es_key
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY es_key DESC, doc_id ASC) AS rk
  FROM keyed
) WHERE rk <= 3
""",
)
def q_weighted_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.py
    weighted_sample_topn — Efraimidis & Spirakis 2006): exactly 3
    documents per source, longer documents proportionally likelier
    (weight = n_chars), selected by the largest u^(1/w) reservoir keys
    over the house md5 uniform — deterministic under repartitioning /
    retries and bit-replayable cross-engine (the ES key rounds to 12 dp
    to absorb pow's last-ulp engine differences; ties break on doc_id).
    The key is a pure scan-local expression; the per-source top-3 is
    the two-phase WindowGroupLimit shape, so no full per-source sort
    materializes at scale."""
    from fireball_data_processing_spark.operators.sampling import (
        weighted_sample_topn,
    )

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample_topn(
        d.select("source", "doc_id", "n_chars"),
        bucket=F.col("source"),
        weight=F.col("n_chars"),
        n=3,
        key=F.col("doc_id"),
        salt="w1",
    ).select(
        "source", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"),
        "es_key",
    )


_DOREMI_ORACLE = _WORDS_NONEMPTY_CTE + ",\n" + _UNIGRAM_CTE + """,
uni AS (
  SELECT doc_id, ROUND(AVG(-LOG2(v.c / t.total)), 6) AS uni_nll
  FROM tok JOIN vocab v USING (token) CROSS JOIN tot t
  GROUP BY doc_id
),
""" + _BIGRAM_COUNTS_CTE + """,
bi AS (
  SELECT doc_id,
    ROUND(AVG(-log2((cb + 0.5) / (cp + 0.5 * vsz))), 6) AS bi_nll
  FROM cnt, v GROUP BY doc_id
),
excess AS (
  SELECT d.lang AS domain, GREATEST(u.uni_nll - b.bi_nll, 0) AS ex
  FROM uni u JOIN bi b USING (doc_id) JOIN documents d USING (doc_id)
),
agg AS (
  SELECT domain, COUNT(*)::BIGINT AS n_docs,
    ROUND(AVG(ex), 6) AS avg_excess
  FROM excess GROUP BY domain
)
SELECT domain, n_docs, avg_excess,
  ROUND(0.9 * EXP(avg_excess) / SUM(EXP(avg_excess)) OVER ()
        + 0.1 / COUNT(*) OVER (), 6) AS weight
FROM agg
"""


def _lang_doremi_weights(d: DataFrame) -> DataFrame:
    """``(domain, n_docs, avg_excess, weight)``: DoReMi mixture weights
    per language, from the clipped per-document excess of the unigram
    over the bigram LM score (eta 1.0, smoothing 0.1)."""
    from fireball_data_processing_spark.functions.textstats import (
        bigram_logprob,
        unigram_logprob,
    )
    from fireball_data_processing_spark.operators.selection import (
        doremi_mixture_weights,
    )

    uni = unigram_logprob(d).select(
        "doc_id", F.col("avg_neg_log2_prob").alias("__uni")
    )
    bi = bigram_logprob(d).select(
        "doc_id", F.col("avg_neg_log2_bigram_prob").alias("__bi")
    )
    scored = (
        uni.join(bi, "doc_id")
        .join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "lang",
            F.greatest(F.col("__uni") - F.col("__bi"), F.lit(0.0)).alias(
                "__excess"
            ),
        )
    )
    return doremi_mixture_weights(
        scored, domain_col="lang", excess_col="__excess",
        eta=1.0, smoothing=0.1,
    )


@query("doremi_domain_weights", _DOREMI_ORACLE)
def q_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-loss domain reweighting (operators/selection.py
    doremi_mixture_weights — Xie et al. 2023 DoReMi): per-language
    mixture weights from the one-step multiplicative-weights update
    over clipped excess loss, using the engine's unigram LM as the
    weak proxy and its bigram LM as the stronger reference (the
    per-document gap — what context predicts that unigrams can't — is
    the learnability signal; domains with more of it up-weight). One
    groupBy(domain) over the corpus-sized joined score frame; softmax
    and uniform smoothing run over the DOMAIN-sized table only. The
    oracle replays both LM scores, the clipped gap, and the smoothed
    softmax to 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    return _lang_doremi_weights(d)


@query(
    "readability_gate",
    """
WITH f AS (
  SELECT doc_id, lang,
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    s -> s <> '')) AS n_words,
    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id, lang,
  n_words::BIGINT AS n_words,
  n_sentences::BIGINT AS n_sentences,
  n_syllables::BIGINT AS n_syllables,
  CASE WHEN n_words > 0 THEN
    ROUND(206.835 - 1.015 * n_words / n_sentences
                  - 84.6 * n_syllables / n_words, 6)
  END AS reading_ease,
  COALESCE(CASE WHEN n_words > 0 THEN
    (206.835 - 1.015 * n_words / n_sentences
             - 84.6 * n_syllables / n_words) >= 30.0 END, FALSE)
    AS passes_readability
FROM f
""",
)
def q_readability_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease screen (functions/textstats.py
    flesch_features — Flesch 1948 / Kincaid et al. 1975): per-document
    word/sentence/vowel-group-syllable counts and the 206.835 -
    1.015·W/S - 84.6·Y/W score, with a >= 30 pass flag (below ~30 is
    impenetrable-academic/garbage territory — the readability
    complement to the Gopher shape gate). Pure per-row regex
    expressions: zero shuffles, codegen-resident, the same scan+filter
    shape at 100 TB; scores round to 6 dp for exact cross-engine
    replay."""
    from fireball_data_processing_spark.functions.textstats import (
        flesch_features,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = flesch_features(F.col("text"))
    ease = feats["reading_ease"]
    return d.select(
        "doc_id",
        "lang",
        feats["n_words"].alias("n_words"),
        feats["n_sentences"].alias("n_sentences"),
        feats["n_syllables"].alias("n_syllables"),
        ease.alias("reading_ease"),
        F.coalesce(ease >= 30.0, F.lit(False)).alias("passes_readability"),
    )


_CURRICULUM_ORACLE = _WORDS_NONEMPTY_CTE + ",\n" + _BIGRAM_COUNTS_CTE + """,
nll AS (
  SELECT doc_id,
    ROUND(AVG(-log2((cb + 0.5) / (cp + 0.5 * vsz))), 6) AS score
  FROM cnt, v GROUP BY doc_id
),
ranked AS (
  SELECT d.lang, n.score,
    ROUND(PERCENT_RANK() OVER (PARTITION BY d.lang ORDER BY n.score), 6)
      AS pctl
  FROM nll n JOIN documents d USING (doc_id)
)
SELECT lang, LEAST(FLOOR(pctl * 4)::INT + 1, 4) AS stage,
  COUNT(*)::BIGINT AS n_docs,
  ROUND(MIN(score), 6) AS min_score, ROUND(MAX(score), 6) AS max_score
FROM ranked GROUP BY 1, 2
"""


@query("curriculum_stages", _CURRICULUM_ORACLE)
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction (operators/selection.py
    score_percentile_gate): per-language documents split into 4
    difficulty stages by exact percent-rank of their bigram-LM
    cross-entropy (easy fluent text first, hard tail last — the
    perplexity-ordered curriculum recipe). keep_frac=1 emits every row
    with its exact pctl from one window partitioned by language. Output
    is the bounded (lang, stage) datasheet with per-stage score
    bounds."""
    from fireball_data_processing_spark.functions.textstats import (
        bigram_logprob,
    )
    from fireball_data_processing_spark.operators.selection import (
        score_percentile_gate,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = (
        bigram_logprob(d)
        .select("doc_id", F.col("avg_neg_log2_bigram_prob").alias("score"))
        .join(d.select("doc_id", "lang"), "doc_id")
        .select("lang", "score")
    )
    ranked = score_percentile_gate(
        scored, "score", "lang", keep_frac=1.0, ascending=True
    )
    stage = F.least(
        F.floor(F.col("pctl") * 4).cast("int") + 1, F.lit(4)
    )
    return (
        ranked.withColumn("stage", stage)
        .groupBy("lang", "stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


@query(
    "zipf_fit_profile",
    """
WITH tok AS (
  SELECT t.token
  FROM (
    SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
    FROM documents
  ), UNNEST(w) AS t(token)
  WHERE t.token <> ''
),
counts AS (SELECT token, COUNT(*)::DOUBLE AS c FROM tok GROUP BY token),
ranked AS """ + _ZIPF_RANKS_BODY + """,
agg AS (
  SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM ranked
)
SELECT n::BIGINT AS n_terms,
  ROUND(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6) AS zipf_exponent,
  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
    AS intercept,
  ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM agg
""",
)
def q_zipf_fit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the token-frequency curve
    (operators/profile.py zipf_fit): closed-form OLS of ln(count) on
    ln(rank) over the 1000 most frequent tokens — the one-row
    vocabulary datasheet whose exponent (~1 for natural language) and
    r2 (~1 on a power law) bend when the corpus fills with boilerplate
    or synthetic junk; the frequency-side complement to the Heaps'-law
    growth curve. One token explode, a vocabulary-bounded count table,
    one rank window over that bounded frame, one aggregate."""
    from fireball_data_processing_spark.operators.profile import zipf_fit

    d = load_table(spark, sf_dir, "documents")
    return zipf_fit(d, max_rank=1000)


@query(
    "edit_distance_near_dups",
    _LSH_PAIRS_CTE
    + """,
t AS (
  SELECT doc_id,
    substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 2000) AS nt
  FROM documents
),
scored AS (
  SELECT c.id_a, c.id_b,
    levenshtein(a.nt, b.nt)::BIGINT AS edit_dist,
    greatest(length(a.nt), length(b.nt)) AS mx
  FROM cand c JOIN t a ON a.doc_id = c.id_a JOIN t b ON b.doc_id = c.id_b
)
SELECT id_a, id_b, edit_dist,
  CASE WHEN mx > 0 THEN ROUND(edit_dist / mx, 6) ELSE 0.0 END AS edit_ratio
FROM scored
WHERE (CASE WHEN mx > 0 THEN ROUND(edit_dist / mx, 6) ELSE 0.0 END) <= 0.5
""",
)
def q_edit_distance_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification (operators/dedup.py
    edit_distance_pairs): LSH candidate pairs verified by normalized
    Levenshtein ratio (edit_dist / longer length, <= 0.5 kept) over
    dedup-normalized text capped at 2000 chars — the finest-granularity
    member of the fuzzy-dedup family (token shingles miss typo-level
    mirrors; characters don't). O(len²) cost is confined to the
    pair-bounded candidate set — generation stays with the bands — and
    F.levenshtein is JVM codegen, replayed exactly by DuckDB's
    levenshtein."""
    from fireball_data_processing_spark.operators.dedup import edit_distance_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = _lsh_pairs(d)
    return edit_distance_pairs(d, pairs, max_chars=2000).filter(
        F.col("edit_ratio") <= 0.5
    )


_DATASET_CARD_ORACLE = """
WITH w AS (
  SELECT doc_id, text, lang, source, n_chars,
    regexp_split_to_array(trim(text), '\\s+') AS gwords,
    string_split(text, chr(10)) AS lines,
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    s -> s <> '')) AS fwords,
    len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS toks
  FROM documents
),
g AS (
  SELECT *,
    (len(gwords) >= 50 AND len(gwords) <= 100000
     AND list_sum(list_transform(gwords, x -> length(x)))::DOUBLE
         / len(gwords) BETWEEN 3.0 AND 10.0
     AND ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
         / len(gwords) <= 0.1
     AND len(list_filter(gwords, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
         / len(gwords) >= 0.8
     AND len(list_filter(gwords, x -> list_contains(
           ['the','a','of','and','to','in','is','it','that','for'],
           lower(x)))) >= 2
     AND len(list_filter(lines, l -> starts_with(l, '- ')
           OR starts_with(l, '* ')
           OR starts_with(l, chr(8226))))::DOUBLE / len(lines) <= 0.9
     AND len(list_filter(lines, l -> l LIKE '%...'))::DOUBLE
         / len(lines) <= 0.3) AS gpass,
    COALESCE(CASE WHEN fwords > 0 THEN
      (206.835
       - 1.015 * fwords
         / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
       - 84.6 * len(regexp_extract_all(lower(text), '[aeiouy]+'))
         / fwords) >= 30.0 END, FALSE) AS rpass
  FROM w
),
tok AS (
  SELECT t.token
  FROM (
    SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS nw
    FROM documents
  ), UNNEST(nw) AS t(token)
  WHERE t.token <> ''
),
counts AS (SELECT token, COUNT(*)::DOUBLE AS c FROM tok GROUP BY token),
zr AS """ + _ZIPF_RANKS_BODY + """,
za AS (
  SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM zr
),
dd AS (
  SELECT COUNT(*)::DOUBLE AS n_docs,
    COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))::DOUBLE
      AS n_distinct
  FROM documents
)
SELECT 'volume' AS section, 'n_docs' AS metric,
  ROUND(COUNT(*)::DOUBLE, 6) AS value FROM g
UNION ALL SELECT 'volume', 'n_tokens', ROUND(SUM(toks)::DOUBLE, 6) FROM g
UNION ALL SELECT 'volume', 'n_chars', ROUND(SUM(n_chars)::DOUBLE, 6) FROM g
UNION ALL SELECT 'length', 'mean_words_per_doc',
  ROUND(AVG(fwords::DOUBLE), 6) FROM g
UNION ALL SELECT 'quality', 'gopher_pass_frac',
  ROUND(AVG(CASE WHEN gpass THEN 1.0 ELSE 0.0 END), 6) FROM g
UNION ALL SELECT 'quality', 'readability_pass_frac',
  ROUND(AVG(CASE WHEN rpass THEN 1.0 ELSE 0.0 END), 6) FROM g
UNION ALL SELECT 'sources', 'n_sources',
  ROUND(COUNT(DISTINCT source)::DOUBLE, 6) FROM g
UNION ALL SELECT 'sources', 'top_source_share',
  ROUND(MAX(cnt) / SUM(cnt), 6)
  FROM (SELECT COUNT(*)::DOUBLE AS cnt FROM g GROUP BY source)
UNION ALL SELECT 'languages', 'n_languages',
  ROUND(COUNT(DISTINCT lang)::DOUBLE, 6) FROM g
UNION ALL SELECT 'languages', 'top_language_share',
  ROUND(MAX(cnt) / SUM(cnt), 6)
  FROM (SELECT COUNT(*)::DOUBLE AS cnt FROM g GROUP BY lang)
UNION ALL SELECT 'dedup', 'exact_duplicate_docs',
  ROUND(n_docs - n_distinct, 6) FROM dd
UNION ALL SELECT 'dedup', 'exact_duplicate_frac',
  ROUND((n_docs - n_distinct) / n_docs, 6) FROM dd
UNION ALL SELECT 'vocabulary', 'vocab_size',
  ROUND(COUNT(*)::DOUBLE, 6) FROM counts
UNION ALL SELECT 'vocabulary', 'zipf_exponent',
  ROUND(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6) FROM za
UNION ALL SELECT 'vocabulary', 'zipf_r2',
  ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) FROM za
"""


@query("dataset_card_summary", _DATASET_CARD_ORACLE)
def q_dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one query ("Datasheets for Datasets", Gebru
    et al. 2018 — the release artifact every curated corpus ships):
    a long-format (section, metric, value) summary covering volume
    (docs/tokens/chars), length, quality pass rates (Gopher shape gate
    + Flesch readability), source and language concentration, exact-
    duplicate mass, and the vocabulary profile (size + Zipf fit).

    Plan: the per-row gates are pure expressions, so volume + length +
    quality + dedup mass all come from ONE aggregate over one scan;
    source/language concentration are two bucket-count aggregates and
    the vocabulary section reuses the zipf_fit shape (one explode,
    vocab-bounded) — FIVE scans total, assembled into a single one-row
    frame by broadcast cross joins and EXPLODED to the long format
    (union-of-selects would re-plan each subtree per metric row: the
    first cut planned 15 corpus scans, this plans 5 — plan-audited).
    Every metric is a rounded double so one schema serves all sections
    — the 15-row output is the thing a data team publishes next to the
    shard manifest."""
    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.functions.textstats import (
        flesch_features,
        gopher_rules,
    )
    from fireball_data_processing_spark.operators.profile import zipf_fit

    d = load_table(spark, sf_dir, "documents")
    feats = flesch_features(F.col("text"))
    gpass = gopher_rules(F.col("text"))["passes_gopher"]
    rpass = F.coalesce(feats["reading_ease"] >= 30.0, F.lit(False))
    toks = F.size(
        F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)
    )

    base = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(toks).cast("double").alias("tok"),
        F.sum("n_chars").cast("double").alias("ch"),
        F.avg(feats["n_words"].cast("double")).alias("mw"),
        F.avg(gpass.cast("double")).alias("gp"),
        F.avg(rpass.cast("double")).alias("rp"),
        F.countDistinct("source").cast("double").alias("nsrc"),
        F.countDistinct("lang").cast("double").alias("nlang"),
        F.countDistinct(
            F.md5(normalize_text(F.col("text")))
        ).cast("double").alias("ndist"),
    )
    src = d.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("c"))
    src_share = src.agg((F.max("c") / F.sum("c")).alias("src_share"))
    lng = d.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("c"))
    lng_share = lng.agg((F.max("c") / F.sum("c")).alias("lng_share"))
    vocab = (
        d.select(
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("t")
        )
        .filter(F.col("t") != "")
        .agg(F.countDistinct("t").cast("double").alias("vocab_size"))
    )
    z = zipf_fit(d, max_rank=1000).select(
        "zipf_exponent", F.col("r2").alias("zipf_r2")
    )
    assembled = (
        base.crossJoin(F.broadcast(src_share))
        .crossJoin(F.broadcast(lng_share))
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(z))
    )
    metrics = [
        ("volume", "n_docs", F.col("n")),
        ("volume", "n_tokens", F.col("tok")),
        ("volume", "n_chars", F.col("ch")),
        ("length", "mean_words_per_doc", F.col("mw")),
        ("quality", "gopher_pass_frac", F.col("gp")),
        ("quality", "readability_pass_frac", F.col("rp")),
        ("sources", "n_sources", F.col("nsrc")),
        ("sources", "top_source_share", F.col("src_share")),
        ("languages", "n_languages", F.col("nlang")),
        ("languages", "top_language_share", F.col("lng_share")),
        ("dedup", "exact_duplicate_docs", F.col("n") - F.col("ndist")),
        ("dedup", "exact_duplicate_frac",
         (F.col("n") - F.col("ndist")) / F.col("n")),
        ("vocabulary", "vocab_size", F.col("vocab_size")),
        ("vocabulary", "zipf_exponent", F.col("zipf_exponent")),
        ("vocabulary", "zipf_r2", F.col("zipf_r2")),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(sec).alias("section"),
                F.lit(met).alias("metric"),
                F.round(expr.cast("double"), 6).alias("value"),
            )
            for sec, met, expr in metrics
        ]
    )
    return assembled.select(F.explode(rows).alias("r")).select(
        "r.section", "r.metric", "r.value"
    )


@query(
    "lsh_tuning_curve",
    """
WITH grid AS (
  SELECT (p / 100.0) AS similarity FROM UNNEST(generate_series(5, 95, 5)) AS t(p)
)
SELECT ROUND(similarity, 6) AS similarity,
  ROUND(1.0 - POWER(1.0 - POWER(similarity, 2.0), 4.0), 6) AS p_candidate,
  4 AS n_bands, 2 AS band_size
FROM grid
""",
)
def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding S-curve (operators/dedup.py lsh_tuning_curve —
    Mining of Massive Datasets §3.4): candidate probability
    1-(1-s^r)^b across the similarity grid for the engine's default
    (8 hashes, band size 2 → 4 bands) configuration — the planning
    datasheet that picks banding parameters for a target near-dup
    threshold BEFORE paying for a corpus-scale run (the curve's
    inflection (1/b)^(1/r) ≈ 0.71 here is the effective threshold the
    other LSH queries inherit). Driver-grid-sized; probabilities
    rounded so pow replays cross-engine."""
    from fireball_data_processing_spark.operators.dedup import (
        lsh_tuning_curve,
    )

    return lsh_tuning_curve(spark, num_hashes=8, band_size=2, step_pct=5)


_DOMAIN_FILL_ORACLE = (
    _DOREMI_ORACLE.rstrip()
    .replace(
        "\nSELECT domain, n_docs, avg_excess,",
        "\n, wts AS (\n  SELECT domain, n_docs, avg_excess,",
        1,
    )
    + """
),
bud AS (
  SELECT domain AS lang,
    CAST(ROUND(weight * 30000, 0) AS BIGINT) AS budget
  FROM wts
),
gw AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
),
gq AS (
  SELECT doc_id, len(ws)::BIGINT AS n_tokens,
    ROUND(len(list_filter(ws, x -> list_contains(
      ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
      ::DOUBLE / len(ws), 6) AS quality
  FROM gw
),
gl AS (
  SELECT d.lang, g.doc_id, g.quality, g.n_tokens
  FROM gq g JOIN documents d USING (doc_id)
),
gc AS (
  SELECT lang, doc_id, quality, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM gl
)
SELECT gc.lang, gc.doc_id, gc.quality, gc.n_tokens, gc.cum_tokens
FROM gc JOIN bud ON bud.lang = gc.lang
WHERE gc.cum_tokens <= bud.budget
"""
)


@query("domain_budget_fill", _DOMAIN_FILL_ORACLE)
def q_domain_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture made material (operators/selection.py budget_fill
    with group_col + a budgets frame): DoReMi's per-language weights
    slice a 30k-token training budget into per-language budgets, and
    each language's budget fills with that language's highest-quality
    documents first (stop-word-ratio quality, doc_id tie-break) — the
    composition every curated-pretraining run ships (plan the mix,
    then fill each share greedily). The grouped fill is the two-phase
    distributed prefix sum PARTITIONED by language: offsets per
    (lang, bucket) over a bounded frame, per-row windows per
    (lang, bucket), budgets broadcast null-safely — no language ever
    serializes the others. The oracle chains both LMs, the weight
    update, the budget slicing, and the per-language plain-window fill."""
    from fireball_data_processing_spark.functions.textstats import quality_features
    from fireball_data_processing_spark.operators.selection import budget_fill

    d = load_table(spark, sf_dir, "documents")
    budgets = _lang_doremi_weights(d).select(
        F.col("domain").alias("lang"),
        F.round(F.col("weight") * 30000, 0).cast("bigint").alias("budget"),
    )
    feats = quality_features(F.col("text"))
    base = d.select(
        "lang",
        "doc_id",
        F.round(feats["stopword_ratio"], 6).alias("quality"),
        feats["n_words"].alias("n_tokens"),
    )
    out = budget_fill(
        base, "quality", "n_tokens", "doc_id", budget=budgets,
        cum_col="cum_tokens", group_col="lang",
    )
    return out.select("lang", "doc_id", "quality", "n_tokens", "cum_tokens")


@query(
    "agreement_krippendorff",
    """
WITH ratings AS (
  SELECT CAST(user_id % 4 AS VARCHAR) AS rater,
         event_id % 200 AS item, event_type AS label
  FROM events
),
iu AS (
  SELECT item, label, COUNT(*)::DOUBLE AS nuc
  FROM ratings GROUP BY item, label
),
per AS (
  SELECT item, label, nuc, SUM(nuc) OVER (PARTITION BY item) AS nu
  FROM iu
  QUALIFY SUM(nuc) OVER (PARTITION BY item) >= 2
),
do_agg AS (
  SELECT SUM(nuc * (nu - nuc) / (nu - 1)) AS do_sum,
         COUNT(DISTINCT item)::BIGINT AS n_items
  FROM per
),
tot AS (SELECT label, SUM(nuc) AS nc FROM per GROUP BY label),
grand AS (SELECT SUM(nc) AS n FROM tot),
de_agg AS (
  SELECT SUM(nc * (g.n - nc)) AS de_sum, ANY_VALUE(g.n) AS n
  FROM tot, grand g
)
SELECT d.n_items, CAST(e.n AS BIGINT) AS n_ratings,
  CASE WHEN e.de_sum > 0 THEN
    ROUND(1.0 - (e.n - 1) * d.do_sum / e.de_sum, 6)
  END AS alpha
FROM do_agg d, de_agg e
""",
)
def q_agreement_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21's third statistic, distributed (plans/agreement.py
    krippendorff_alpha_nominal — reference
    human_eval/results_analysis.py computes kappa, tau AND alpha):
    nominal Krippendorff's alpha over the same synthetic rater derivation
    as agreement_kappa, in the canonical count form over pairable items
    — any number of raters per item, missing ratings included, one
    coefficient. Pure DataFrame aggregate (two groupBys over the
    (item, label) counts + one-row-broadcast totals; no rater self-join,
    no Python), unlike the reference's pandas loop — so the same code
    runs at corpus scale; the oracle replays the count form exactly."""
    from fireball_data_processing_spark.plans.agreement import (
        krippendorff_alpha_nominal,
    )

    ratings = _event_ratings(spark, sf_dir)
    return krippendorff_alpha_nominal(ratings)


@query(
    "agreement_kendall_tau",
    """
WITH ratings AS (
  SELECT CAST(user_id % 4 AS VARCHAR) AS rater,
         event_id % 50 AS item,
         ROUND(AVG(value), 6) AS v
  FROM events GROUP BY 1, 2
),
co AS (
  SELECT a.rater AS rater_a, b.rater AS rater_b, a.item,
         a.v AS va, b.v AS vb
  FROM ratings a JOIN ratings b
    ON a.item = b.item AND a.rater < b.rater
),
ni AS (
  SELECT rater_a, rater_b, COUNT(*)::BIGINT AS n_items
  FROM co GROUP BY 1, 2
),
p AS (
  SELECT i.rater_a, i.rater_b,
    (i.va - j.va) AS dx, (i.vb - j.vb) AS dy
  FROM co i JOIN co j
    ON i.rater_a = j.rater_a AND i.rater_b = j.rater_b
   AND i.item < j.item
),
s AS (
  SELECT rater_a, rater_b,
    COUNT(*)::DOUBLE AS n0,
    SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END)::DOUBLE AS c,
    SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END)::DOUBLE AS d,
    SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END)::DOUBLE AS tx,
    SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END)::DOUBLE AS ty
  FROM p GROUP BY 1, 2
)
SELECT s.rater_a, s.rater_b, ni.n_items,
  CASE WHEN SQRT((n0 - tx) * (n0 - ty)) > 0 THEN
    ROUND((c - d) / SQRT((n0 - tx) * (n0 - ty)), 6)
  END AS tau
FROM s JOIN ni USING (rater_a, rater_b)
""",
)
def q_agreement_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21's second statistic, distributed (plans/agreement.py
    pairwise_kendall_tau — reference results_analysis.py:141-152 calls
    scipy's kendalltau, i.e. tau-b): per rater pair over co-rated items
    (one rating per (rater, item) = the rounded mean event value), the
    tie-corrected (C-D)/sqrt((n0-tx)(n0-ty)) from explicit
    concordant/discordant item-pair counts — all JVM aggregates, no
    scipy, so the DuckDB oracle replays every pair count exactly. The
    O(n²) item-pair contact is the statistic's own cost and stays
    inside each rater pair (eval-sized by contract)."""
    from fireball_data_processing_spark.plans.agreement import (
        pairwise_kendall_tau,
    )

    ev = load_table(spark, sf_dir, "events")
    ratings = ev.groupBy(
        (F.col("user_id") % 4).cast("string").alias("rater"),
        (F.col("event_id") % 50).alias("item"),
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    return pairwise_kendall_tau(ratings, value_col="v")


_HISTOGRAM_QUANTILE_ORACLE = """
WITH v AS (SELECT value::DOUBLE AS x FROM events),
s AS (
  SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*)::DOUBLE AS n,
         quantile_cont(x, [0.25, 0.5, 0.75, 0.9, 0.99]) AS ex
  FROM v
),
c AS (
  SELECT LEAST(FLOOR((x - s.lo) / ((s.hi - s.lo) / 128.0)), 127)::BIGINT AS b,
         COUNT(*)::DOUBLE AS cnt
  FROM v, s GROUP BY 1
),
cc AS (
  SELECT b, cnt,
    SUM(cnt) OVER (ORDER BY b) AS cum,
    SUM(cnt) OVER (ORDER BY b) - cnt AS cumprev
  FROM c
),
q AS (
  SELECT CAST([0.25, 0.5, 0.75, 0.9, 0.99][u.i] AS DOUBLE) AS q,
         s.lo, s.hi,
         CAST([0.25, 0.5, 0.75, 0.9, 0.99][u.i] AS DOUBLE) * s.n AS r,
         s.ex[u.i] AS ex0
  FROM s, UNNEST(generate_series(1, 5)) AS u(i)
)
SELECT q.q,
  ROUND(q.lo + (q.hi - q.lo) / 128.0
          * (cc.b + (q.r - cc.cumprev) / cc.cnt), 6) AS est,
  ROUND(q.ex0, 6) AS exact,
  ROUND(ABS(q.lo + (q.hi - q.lo) / 128.0
              * (cc.b + (q.r - cc.cumprev) / cc.cnt) - q.ex0), 6) AS abs_err
FROM q JOIN cc ON cc.cumprev < q.r AND cc.cum >= q.r
"""


@query("histogram_quantile_sketch", _HISTOGRAM_QUANTILE_ORACLE)
def q_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of the event-value distribution from a MERGEABLE
    equi-width histogram (operators/sketches.py histogram_quantiles),
    with the exact interpolated percentile as the verification column.
    Extends the reference's single-node summary statistics
    (results_analysis-style percentiles) with the sketch a 100 TB scan
    needs: two partial-combining aggregates whose exchange volume is
    bounded by the bucket count, then interpolation over the
    128-row summary — no global sort, no per-group value buffering,
    and the bucket counts merge across shards/streams by addition."""
    from fireball_data_processing_spark.operators.sketches import (
        histogram_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", quantiles=(0.25, 0.5, 0.75, 0.9, 0.99), n_buckets=128
    )


_SCORE_PROPAGATION_ORACLE = (
    _LSH_PAIRS_CTE
    + """,
base AS (
  SELECT doc_id,
    ROUND(len(list_distinct(w))::DOUBLE / len(w), 6) AS s0
  FROM words
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b, id_a FROM cand
),
p1 AS (
  SELECT b.doc_id, b.s0,
    ROUND(0.5 * b.s0 + 0.5 * COALESCE(n.avg_s, b.s0) + 1e-9, 6) AS s
  FROM base b LEFT JOIN (
    SELECT sym.src AS doc_id, ROUND(AVG(nb.s0), 8) AS avg_s
    FROM sym JOIN base nb ON nb.doc_id = sym.dst GROUP BY sym.src
  ) n USING (doc_id)
),
p2 AS (
  SELECT p.doc_id, p.s0,
    ROUND(0.5 * p.s0 + 0.5 * COALESCE(n.avg_s, p.s) + 1e-9, 6) AS s
  FROM p1 p LEFT JOIN (
    SELECT sym.src AS doc_id, ROUND(AVG(nb.s), 8) AS avg_s
    FROM sym JOIN p1 nb ON nb.doc_id = sym.dst GROUP BY sym.src
  ) n USING (doc_id)
)
SELECT doc_id, s0 AS score0, s AS score_prop,
  ROUND(s - s0, 6) AS delta
FROM p2
"""
)


@query("quality_score_propagation", _SCORE_PROPAGATION_ORACLE)
def q_quality_score_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation of a quality prior through the near-duplicate
    graph (operators/propagation.py): a document surrounded by
    low-quality near-duplicates is itself suspect even when its own
    statistics pass — the template-spam signal no per-document gate can
    see. Prior = type-token ratio over the canonical word split; graph =
    the engine's LSH candidate pairs (band-bucket bounded, never
    all-pairs); two smoothing rounds, each rounded to 6 dp (the kmeans
    replay contract), so the unrolled oracle matches exactly. Extends
    the reference's independent per-document heuristics with the
    cross-document smoothing step."""
    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.operators.propagation import (
        propagate_scores,
    )

    d = load_table(spark, sf_dir, "documents")
    words = F.split(normalize_text(F.col("text")), " ")
    base = d.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(words)).cast("double")
            / F.size(words).cast("double"),
            6,
        ).alias("s0"),
    )
    edges = _lsh_pairs(d)
    out = propagate_scores(
        base, edges, id_col="doc_id", score_col="s0", alpha=0.5, n_iter=2
    )
    return out.select(
        "doc_id",
        "score0",
        F.col("score").alias("score_prop"),
        F.round(F.col("score") - F.col("score0"), 6).alias("delta"),
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center replaying operators/clustering.py
    kcenter_fit: lowest-id seed, per-round 6-dp rounding of the running
    min-distance, (md DESC, vec_id ASC) pick tie-break, sequential
    distance fold — the kmeans replay contract applied to Gonzalez."""
    d = (
        "list_sum(list_transform(generate_series(1, len(m.v)), "
        "i -> (m.v[i] - c.v[i]) * (m.v[i] - c.v[i])))"
    )
    parts = [
        """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p0 AS (SELECT vec_id, v FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) = 1),
m1 AS (
  SELECT m.vec_id, m.v, ROUND(%s, 6) AS md FROM e m, p0 c
)""" % d
    ]
    for t in range(1, k):
        parts.append(
            """,
p{t} AS (
  SELECT vec_id, v, md FROM m{t}
  QUALIFY ROW_NUMBER() OVER (ORDER BY md DESC, vec_id ASC) = 1
),
m{n} AS (
  SELECT m.vec_id, m.v, ROUND(LEAST(m.md, {d}), 6) AS md
  FROM m{t} m, p{t} c
)""".format(t=t, n=t + 1, d=d)
        )
    gains = ["SELECT 0 AS center_idx, vec_id, 0.0 AS gain FROM p0"] + [
        f"SELECT {t}, vec_id, md FROM p{t}" for t in range(1, k)
    ]
    parts.append(
        """,
r AS (SELECT MAX(md) AS radius FROM m{k})
SELECT s.center_idx::INT AS center_idx, s.vec_id, s.gain, r.radius
FROM ({gains}) s, r
""".format(k=k, gains="\n  UNION ALL ".join(gains))
    )
    return "".join(parts)


@query("kcenter_coreset", _kcenter_oracle(k=5))
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus
    (operators/clustering.py kcenter_fit): diversity-first selection —
    each round takes the point FARTHEST from every center so far, the
    2-approximate cover k-means' density seeking can't give. Output is
    the selection trace (center_idx, vec_id, gain) plus the final
    coverage radius; gains are the monotone radius curve. k-1 one-row
    aggregate jobs (max-struct partial-combines map-side), min-distance
    as a pure literal-center projection, bounded one-row collects — the
    kmeans_fit execution shape, replayed exactly by the unrolled oracle
    via per-round rounding."""
    from fireball_data_processing_spark.operators.clustering import (
        _dist2,
        kcenter_fit,
    )

    e = load_table(spark, sf_dir, "embeddings")
    centers = kcenter_fit(e, k=5)
    trace = spark.createDataFrame(
        [(idx, vid, gain) for idx, vid, gain, _ in centers],
        "center_idx int, vec_id bigint, gain double",
    )
    # coverage radius from the SAME chained-rounded min-distance the fit
    # maintained (round(least(round(...), d)) per round), so the oracle's
    # m{k} table is replayed verbatim
    vec = F.col("embedding").cast("array<double>")
    lit = lambda v: F.array(*[F.lit(float(x)) for x in v])  # noqa: E731
    md = F.round(_dist2(vec, lit(centers[0][3])), 6)
    for _, _, _, v in centers[1:]:
        md = F.round(F.least(md, _dist2(vec, lit(v))), 6)
    radius = e.select(md.alias("__md")).agg(F.max("__md").alias("radius"))
    return trace.crossJoin(F.broadcast(radius))


def _dawid_skene_oracle() -> str:
    """Unrolled Dawid-Skene EM replaying plans/agreement.py dawid_skene:
    every aggregated quantity rounded to 8 dp before downstream use (the
    kmeans replay contract applied to EM), log-space E-step with
    max-subtracted softmax, (posterior DESC, label ASC) MAP tie-break."""
    k = len(_RATING_LABELS)
    vals = ", ".join(f"('{x}')" for x in _RATING_LABELS)
    parts = [
        f"""
WITH ratings AS (
  SELECT event_id % 200 AS item,
         CAST(user_id % 4 AS VARCHAR) AS rater,
         event_type AS label
  FROM events
),
counts AS (
  SELECT item, rater, label, COUNT(*)::DOUBLE AS n
  FROM ratings GROUP BY 1, 2, 3
),
itot AS (SELECT item, SUM(n) AS ni FROM counts GROUP BY 1),
nitems AS (SELECT COUNT(*)::DOUBLE AS n_items FROM itot),
labels(c) AS (VALUES {vals}),
votes AS (SELECT item, label AS c, SUM(n) AS v FROM counts GROUP BY 1, 2),
t0 AS (
  SELECT i.item, l.c, ROUND(COALESCE(v.v, 0) / i.ni, 8) AS t
  FROM itot i CROSS JOIN labels l
  LEFT JOIN votes v ON v.item = i.item AND v.c = l.c
),
grid AS (
  SELECT r.rater, lc.c, ll.c AS l
  FROM (SELECT DISTINCT rater FROM counts) r
  CROSS JOIN labels lc CROSS JOIN labels ll
)"""
    ]
    for it in range(1, _EM_ROUNDS + 1):
        parts.append(
            f""",
p{it} AS (
  SELECT c, ROUND((SUM(t) + 0.01) / (MAX(n_items) + {k * 0.01}), 8) AS p
  FROM t{it - 1}, nitems GROUP BY c
),
num{it} AS (
  SELECT k.rater, t.c, k.label AS l, SUM(t.t * k.n) AS num
  FROM counts k JOIN t{it - 1} t ON t.item = k.item
  GROUP BY 1, 2, 3
),
den{it} AS (SELECT rater, c, SUM(num) AS den FROM num{it} GROUP BY 1, 2),
pi{it} AS (
  SELECT g.rater, g.c, g.l,
    ROUND((COALESCE(n.num, 0) + 0.01)
            / (COALESCE(d.den, 0) + {k * 0.01}), 8) AS pi
  FROM grid g
  LEFT JOIN num{it} n ON n.rater = g.rater AND n.c = g.c AND n.l = g.l
  LEFT JOIN den{it} d ON d.rater = g.rater AND d.c = g.c
),
lp{it} AS (
  SELECT k.item, pi.c, ROUND(LN(MAX(p.p)) + SUM(k.n * LN(pi.pi)), 8) AS lp
  FROM counts k
  JOIN pi{it} pi ON pi.rater = k.rater AND pi.l = k.label
  JOIN p{it} p ON p.c = pi.c
  GROUP BY 1, 2
),
t{it} AS (
  SELECT item, c,
    ROUND(EXP(lp - m) / SUM(EXP(lp - m)) OVER (PARTITION BY item), 8) AS t
  FROM (SELECT item, c, lp, MAX(lp) OVER (PARTITION BY item) AS m
        FROM lp{it}) z
)"""
        )
    parts.append(
        f"""
SELECT item, c AS map_label, t AS posterior
FROM t{_EM_ROUNDS}
QUALIFY ROW_NUMBER() OVER (PARTITION BY item ORDER BY t DESC, c ASC) = 1
"""
    )
    return "".join(parts)


@query("dawid_skene_labels", _dawid_skene_oracle())
def q_dawid_skene_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dawid-Skene EM truth inference over the synthetic rater panel
    (plans/agreement.py dawid_skene) — the aggregation step the
    engine's kappa/alpha/tau statistics diagnose but don't perform:
    per-rater confusion matrices and item posteriors estimated jointly,
    ``_EM_ROUNDS`` EM rounds, MAP label per item. Fully distributed (the
    model state never leaves DataFrames — priors and confusion re-enter
    the E-step as broadcast joins; zero collects), replayed exactly by
    the unrolled oracle via per-aggregate 8-dp rounding."""
    return dawid_skene(_event_ratings(spark, sf_dir), _RATING_LABELS)


_TTR_DOCS_CTE = """
WITH d AS (
  SELECT doc_id,
    ROUND(len(list_distinct(w))::DOUBLE / len(w), 6) AS x,
    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM (
    SELECT doc_id, lang,
      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
    FROM documents
  )
)"""


def _ttr_xy(d: DataFrame) -> DataFrame:
    """(doc_id, x, y): type-token-ratio feature + is-English label, the
    Spark twin of _TTR_DOCS_CTE."""
    from fireball_data_processing_spark.functions.text import normalize_text

    words = F.split(normalize_text(F.col("text")), " ")
    return d.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(words)).cast("double")
            / F.size(words).cast("double"),
            6,
        ).alias("x"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )


def _newton_chain_sql(n_iter: int) -> str:
    """``_TTR_DOCS_CTE`` and the unrolled Newton-Raphson chain replaying
    operators/calibration.py logistic_fit_2param: ``b{t}_`` holds the
    coefficients after step t, with 8-dp rounding of the five
    gradient/Hessian sums and of the updated coefficients each step (the
    kmeans contract)."""
    parts = [_TTR_DOCS_CTE + ",\nb0_ AS (SELECT 0.0 AS b0, 0.0 AS b1)"]
    for t in range(1, n_iter + 1):
        parts.append(
            """,
s{t} AS (
  SELECT ROUND(SUM(y - p), 8) AS g0, ROUND(SUM((y - p) * x), 8) AS g1,
         ROUND(SUM(p * (1 - p)), 8) AS h00,
         ROUND(SUM(p * (1 - p) * x), 8) AS h01,
         ROUND(SUM(p * (1 - p) * x * x), 8) AS h11,
         MAX(b0) AS b0, MAX(b1) AS b1
  FROM (SELECT x, y, b0, b1,
          1.0 / (1.0 + EXP(-(b0 + b1 * x))) AS p
        FROM d, b{p}_) z
),
b{t}_ AS (
  SELECT
    ROUND(b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01), 8) AS b0,
    ROUND(b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01), 8) AS b1
  FROM s{t}
)""".format(t=t, p=t - 1)
        )
    return "".join(parts)


def _logistic_oracle(n_iter: int = 2) -> str:
    """The Newton chain (:func:`_newton_chain_sql`) and the fitted
    coefficients' logloss."""
    return _newton_chain_sql(n_iter) + f"""
SELECT ROUND(MAX(b0), 6) AS intercept, ROUND(MAX(b1), 6) AS slope,
  COUNT(*)::BIGINT AS n,
  ROUND(-AVG(y * LN(p) + (1 - y) * LN(1 - p)), 6) AS logloss
FROM (SELECT x, y, b0, b1, 1.0 / (1.0 + EXP(-(b0 + b1 * x))) AS p
      FROM d, b{n_iter}_) z
"""


@query("logistic_quality_calibration", _logistic_oracle(n_iter=2))
def q_logistic_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Newton-Raphson logistic fit
    (operators/calibration.py): calibrate the type-token-ratio quality
    score into P(doc is English) — the step that turns an ordinal
    heuristic into a probability a gate can threshold. Each Newton step
    is ONE partial-combining aggregate producing the five
    gradient/Hessian sufficient statistics (one 5-tuple per partition on
    the exchange); the 2x2 solve is column arithmetic on a 1-row frame
    and the parameters re-enter as a broadcast — zero collects. The
    unrolled oracle replays both steps via 8-dp sum/coefficient
    rounding. Extends the reference's hand-tuned fixed thresholds with
    the fitting step itself."""
    from fireball_data_processing_spark.operators.calibration import (
        logistic_fit_2param,
    )

    d = load_table(spark, sf_dir, "documents")
    return logistic_fit_2param(_ttr_xy(d), "x", "y", n_iter=2)


def _reliability_oracle(n_iter: int = 2, n_bins: int = 10) -> str:
    """Reliability-diagram oracle: replay the unrolled Newton fit (same
    CTE chain as _logistic_oracle), round each predicted probability to
    8 dp so both engines bin identical doubles, equal-width bin, then
    the support-weighted ECE via a window over the bin frame."""
    return _newton_chain_sql(n_iter) + f""",
scored AS (
  SELECT ROUND(1.0 / (1.0 + EXP(-(b0 + b1 * x))), 8) AS p, y,
         doc_id
  FROM d, b{n_iter}_
),
binned AS (
  SELECT CAST(NTILE({n_bins}) OVER (ORDER BY p, doc_id) AS BIGINT) AS bin,
         p, y
  FROM scored
),
bins AS (
  SELECT bin, COUNT(*)::BIGINT AS n,
         ROUND(AVG(p), 6) AS avg_conf,
         ROUND(AVG(y), 6) AS avg_acc
  FROM binned GROUP BY 1
)
SELECT bin, n, avg_conf, avg_acc,
  ROUND(ABS(avg_conf - avg_acc), 6) AS gap,
  ROUND(SUM(n * ROUND(ABS(avg_conf - avg_acc), 6)) OVER ()
          / SUM(n) OVER (), 6) AS ece
FROM bins ORDER BY bin
"""


@query("reliability_diagram_ece", _reliability_oracle(n_iter=2, n_bins=10))
def q_reliability_diagram_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error
    (operators/calibration.py reliability_diagram) for the Newton
    logistic calibration of the type-token-ratio score: 10 EQUAL-MASS
    probability bins (ntile over the 8-dp probability with doc_id as
    the deterministic tiebreak, so bin membership is engine-exact),
    per-bin mean confidence vs observed is-English rate,
    support-weighted ECE (Guo et al. 2017). Completes the calibration
    family — fit (logistic_quality_calibration), guarantee
    (conformal_quality_threshold), and now the audit that says whether
    the fitted probabilities are honest. One groupBy over the scored
    scan (10 groups, partial-combined) + a window over <= 10 rows; the
    ntile's total sort is the documented diagnostic-only cost (the
    operator's equal-width mode is the zero-sort 100 TB path)."""
    from fireball_data_processing_spark.operators.calibration import (
        reliability_diagram,
    )

    d = load_table(spark, sf_dir, "documents")
    return reliability_diagram(
        _ttr_xy(d), "x", "y", key_col="doc_id", n_iter=2, n_bins=10
    )


@query(
    "conformal_quality_threshold",
    _TTR_DOCS_CTE
    + """,
s AS (
  SELECT x,
    ('0x' || substr(md5('cal' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0 < 0.25 AS is_cal
  FROM d
),
cal AS (
  SELECT ROUND(quantile_cont(x, 0.1), 6) AS threshold,
         COUNT(*)::BIGINT AS n_cal
  FROM s WHERE is_cal
)
SELECT CAST(0.1 AS DOUBLE) AS alpha, cal.threshold, cal.n_cal,
  COUNT(*)::BIGINT AS n_test,
  ROUND(AVG(CASE WHEN t.x >= cal.threshold THEN 1.0 ELSE 0.0 END), 6)
    AS test_pass_rate
FROM s t, cal WHERE NOT t.is_cal
GROUP BY cal.threshold, cal.n_cal
""",
)
def q_conformal_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal gate calibration (operators/calibration.py
    conformal_threshold): hash a deterministic 25% calibration split
    (the house hash_rank split — train_test_split_counts' function),
    cut at the exact alpha-quantile of calibration scores, report the
    held-out pass rate, which exchangeability pins near 1 - alpha — the
    distribution-free coverage guarantee a production ingest gate wants
    attached to its threshold. Two aggregates, one scan each."""
    from fireball_data_processing_spark.operators.calibration import (
        conformal_threshold,
    )

    d = load_table(spark, sf_dir, "documents")
    return conformal_threshold(
        _ttr_xy(d), "x", key=F.col("doc_id"), alpha=0.1, cal_fraction=0.25,
        salt="cal",
    )


@query(
    "mad_outlier_profile",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value::DOUBLE, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, e.value::DOUBLE AS x, m.med,
         ABS(e.value::DOUBLE - m.med) AS ad
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
  ROUND(MAX(d.med), 6) AS median,
  ROUND(MAX(m.mad), 6) AS mad,
  ROUND(3.0 * 1.4826 * MAX(m.mad), 6) AS cutoff,
  COUNT(*)::BIGINT AS n,
  SUM(CASE WHEN d.ad > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)::BIGINT
    AS n_outliers,
  ROUND(AVG(CASE WHEN d.ad > 3.0 * 1.4826 * m.mad THEN 1.0 ELSE 0.0 END), 6)
    AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
)
def q_mad_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier profile (operators/selection.py
    mad_outlier_stats): median/MAD with the 1.4826 normal-consistency
    scale and a 3-sigma-equivalent cutoff — the gate mean/stddev
    z-scores can't be trusted for, because outliers inflate the very
    stddev meant to flag them (MAD's breakdown point is 50%). Two
    grouped percentile aggregates + broadcast joins of the tiny
    per-group stats frames."""
    from fireball_data_processing_spark.operators.selection import (
        mad_outlier_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    return mad_outlier_stats(ev, "value", ["event_type"], k=3.0)


@query(
    "funnel_conversion_steps",
    """
WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
u1 AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0
  FROM e GROUP BY 1
),
u2 AS (
  SELECT e.user_id, u1.t0,
    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= u1.t0
             THEN e.ts END) AS t1
  FROM e JOIN u1 USING (user_id) GROUP BY 1, 2
),
u3 AS (
  SELECT e.user_id, u2.t0, u2.t1,
    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= u2.t1
             THEN e.ts END) AS t2
  FROM e JOIN u2 USING (user_id) GROUP BY 1, 2, 3
),
c AS (
  SELECT COUNT(t0)::BIGINT AS n0, COUNT(t1)::BIGINT AS n1,
         COUNT(t2)::BIGINT AS n2
  FROM u3
)
SELECT 1 AS step, 'view' AS event_type, n0 AS n_users,
  CAST(NULL AS DOUBLE) AS conv_from_prev,
  ROUND(n0::DOUBLE / NULLIF(n0, 0), 6) AS conv_from_start FROM c
UNION ALL
SELECT 2, 'click', n1, ROUND(n1::DOUBLE / NULLIF(n0, 0), 6),
  ROUND(n1::DOUBLE / NULLIF(n0, 0), 6) FROM c
UNION ALL
SELECT 3, 'purchase', n2, ROUND(n2::DOUBLE / NULLIF(n1, 0), 6),
  ROUND(n2::DOUBLE / NULLIF(n0, 0), 6) FROM c
""",
)
def q_funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch ordered funnel view -> click -> purchase
    (operators/funnel.py funnel_steps): step k counts users whose
    earliest step-k event is at-or-after their step-(k-1) first touch.
    The conditional-min chain runs as consecutive Window nodes over ONE
    user-hash exchange (same partitioning all the way down), then a
    scalar count — one shuffle regardless of funnel depth. The
    sequence-aggregation staple SURVEY §2.3's per-instance window
    operators don't express corpus-wide."""
    from fireball_data_processing_spark.operators.funnel import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


@query(
    "weekly_cohort_retention",
    """
WITH e AS (
  SELECT user_id AS u, epoch_ns(ts) // 604800000000000 AS wk FROM events
),
fw AS (SELECT u, MIN(wk) AS cohort_period FROM e GROUP BY 1),
sizes AS (
  SELECT cohort_period, COUNT(*)::BIGINT AS cohort_size FROM fw GROUP BY 1
),
act AS (
  SELECT cohort_period, period_offset, COUNT(*)::BIGINT AS n_active
  FROM (
    SELECT DISTINCT e.u, f.cohort_period, e.wk - f.cohort_period AS period_offset
    FROM e JOIN fw f USING (u)
  ) GROUP BY 1, 2
)
SELECT a.cohort_period, a.period_offset, a.n_active, s.cohort_size,
  ROUND(a.n_active::DOUBLE / s.cohort_size, 6) AS retention
FROM act a JOIN sizes s USING (cohort_period)
""",
)
def q_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix (operators/funnel.py
    cohort_retention): cohort = week of a user's first event; each cell
    is the cohort's distinct-active share k weeks on. Integer week ids
    from int64-nano division (never float math on nanos), two
    partial-combining user-keyed aggregates, and a broadcast of the
    period-sized cohort table."""
    from fireball_data_processing_spark.operators.funnel import (
        cohort_retention,
    )

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


def _poisson_draw_sql(n_replicates: int) -> tuple[str, str]:
    """The oracle side of the chunked Poisson(1) draw: ``hdefs``, the
    ``h0..`` md5 digest columns of ``event_id``, and the replication
    count of row ``e`` in replicate ``b.b``, replayed from its hex chunk
    through the literal CDF ladder."""
    from fireball_data_processing_spark.operators.bootstrap import (
        PER_DIGEST,
        poisson_cdf_sql,
    )

    per = PER_DIGEST
    width = 32 // per
    n_hashes = (n_replicates + per - 1) // per
    hdefs = ", ".join(
        f"md5('boot{h}#' || CAST(event_id AS VARCHAR)) AS h{h}"
        for h in range(n_hashes)
    )
    hlist = ", ".join(f"e.h{h}" for h in range(n_hashes))
    u = (
        f"('0x' || substr(list_value({hlist})"
        f"[CAST(FLOOR((b.b - 1) / {per}) AS INT) + 1], "
        f"((b.b - 1) % {per}) * {width} + 1, {width}))::BIGINT"
        f" / {float(16 ** width)!r}"
    )
    return hdefs, poisson_cdf_sql(u)


def _bootstrap_oracle(n_replicates: int = 32) -> str:
    hdefs, k = _poisson_draw_sql(n_replicates)
    return f"""
WITH pre AS (SELECT value, {hdefs} FROM events),
r AS (
  SELECT b.b, e.value::DOUBLE AS x,
    ({k})::DOUBLE AS k
  FROM pre e, UNNEST(generate_series(1, {n_replicates})) AS b(b)
),
reps AS (
  SELECT b, ROUND(SUM(k * x) / SUM(k), 8) AS m FROM r GROUP BY b
),
ci AS (
  SELECT ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
         ROUND(quantile_cont(m, 0.975), 6) AS ci_hi,
         COUNT(*)::BIGINT AS n_replicates
  FROM reps
),
pt AS (
  SELECT COUNT(*)::BIGINT AS n, ROUND(AVG(value::DOUBLE), 6) AS mean
  FROM events
)
SELECT pt.n, pt.mean, ci.ci_lo, ci.ci_hi, ci.n_replicates FROM pt, ci
"""


@query("bootstrap_mean_ci", _bootstrap_oracle(n_replicates=32))
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean event value
    (operators/bootstrap.py, Chamandy et al. 2012): each row draws an
    independent deterministic Poisson(1) replication count per replicate
    (a 4-hex md5 chunk as the uniform — one digest serves eight
    replicates — through a literal CDF ladder), so ONE
    explode(B) pass computes every replicate's weighted mean — the
    exchange carries B partial sums per partition, never resampled data;
    the classical with-replacement bootstrap needs global n per draw and
    doesn't distribute. Adds the error bars the reference's
    point-estimate metrics never carry."""
    from fireball_data_processing_spark.operators.bootstrap import (
        bootstrap_mean_ci,
    )

    ev = load_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        ev, "value", key=F.col("event_id"), n_replicates=32, level=0.95,
        salt="boot",
    )


@query(
    "dup_graph_triangle_census",
    _LSH_PAIRS_CTE
    + """,
e AS (SELECT id_a AS a, id_b AS b FROM cand),
deg AS (
  SELECT v, COUNT(*)::DOUBLE AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v
),
base AS (
  SELECT COUNT(*)::BIGINT AS n_vertices,
         ROUND(SUM(d * (d - 1) / 2), 0)::BIGINT AS n_wedges
  FROM deg
),
ec AS (SELECT COUNT(*)::BIGINT AS n_edges FROM e),
tri AS (
  SELECT COUNT(*)::BIGINT AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT base.n_vertices, ec.n_edges, base.n_wedges, tri.n_triangles,
  ROUND(3.0 * tri.n_triangles / NULLIF(base.n_wedges, 0), 6)
    AS transitivity
FROM base, ec, tri
""",
)
def q_dup_graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the LSH near-dup candidate graph
    (operators/propagation.py graph_triangle_stats): low transitivity
    means chained clusters (A~B~C with A,C unrelated — connected
    components over-merge), high means template cliques. Oriented
    low-id->high-id edges count each triangle once via two hash joins
    (the Suri-Vassilvitskii shape); wedges come from the degree table
    alone. The structural-audit complement to the component and
    propagation views of the same graph."""
    from fireball_data_processing_spark.operators.propagation import (
        graph_triangle_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    edges = _lsh_pairs(d)
    return graph_triangle_stats(edges)


@query(
    "event_audience_overlap",
    """
WITH masks AS (
  SELECT m, COUNT(*)::DOUBLE AS c FROM (
    SELECT user_id,
      BIT_OR(CASE event_type
               WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 4
               WHEN 'signup' THEN 8 WHEN 'error' THEN 16 ELSE 0 END) AS m
    FROM events GROUP BY user_id
  ) GROUP BY m
),
cats(cat, bit) AS (
  VALUES ('view', 1), ('click', 2), ('purchase', 4),
         ('signup', 8), ('error', 16)
),
pairs AS (
  SELECT a.cat AS cat_a, b.cat AS cat_b, a.bit AS ba, b.bit AS bb
  FROM cats a JOIN cats b ON a.bit < b.bit
),
agg AS (
  SELECT p.cat_a, p.cat_b,
    CAST(SUM(m.c * CASE WHEN (m.m & p.ba) != 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_a,
    CAST(SUM(m.c * CASE WHEN (m.m & p.bb) != 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_b,
    CAST(SUM(m.c * CASE WHEN (m.m & p.ba) != 0 THEN 1 ELSE 0 END
                 * CASE WHEN (m.m & p.bb) != 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_both
  FROM pairs p, masks m GROUP BY 1, 2
)
SELECT cat_a, cat_b, n_a, n_b, n_both,
  ROUND(n_both / NULLIF(n_a + n_b - n_both, 0)::DOUBLE, 6) AS jaccard
FROM agg
""",
)
def q_event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise audience overlap between event-type segments
    (operators/profile.py audience_overlap): fold each user's
    memberships into one bitmask (order-insensitive bit_or,
    partial-combining), histogram the <=2^5 masks, and read every
    pair's intersection off the tiny histogram — two aggregates over
    one scan, where the naive form is a COUNT(DISTINCT) self-join per
    pair. Exact-set dual of the MinHash corpus_overlap_matrix."""
    from fireball_data_processing_spark.operators.profile import (
        audience_overlap,
    )

    ev = load_table(spark, sf_dir, "events")
    return audience_overlap(
        ev, "user_id", "event_type",
        ["view", "click", "purchase", "signup", "error"],
    )


def _ab_delta_oracle(n_replicates: int = 32) -> str:
    hdefs, k = _poisson_draw_sql(n_replicates)
    return f"""
WITH pre AS (
  SELECT value,
    CASE WHEN ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
              / 4294967296.0 < 0.5
         THEN 'a' ELSE 'b' END AS g,
    {hdefs}
  FROM events
),
r AS (
  SELECT e.g, b.b, e.value::DOUBLE AS x,
    ({k})::DOUBLE AS k
  FROM pre e, UNNEST(generate_series(1, {n_replicates})) AS b(b)
),
reps AS (
  SELECT g, b, ROUND(SUM(k * x) / SUM(k), 8) AS m FROM r GROUP BY 1, 2
),
d AS (
  SELECT ROUND(rb.m - ra.m, 8) AS d
  FROM (SELECT b, m FROM reps WHERE g = 'a') ra
  JOIN (SELECT b, m FROM reps WHERE g = 'b') rb USING (b)
),
ci AS (
  SELECT ROUND(quantile_cont(d, 0.025), 6) AS ci_lo,
         ROUND(quantile_cont(d, 0.975), 6) AS ci_hi,
         COUNT(*)::BIGINT AS n_replicates
  FROM d
),
pt AS (
  SELECT SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
         SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b,
         ROUND(AVG(CASE WHEN g = 'a' THEN value::DOUBLE END), 6) AS mean_a,
         ROUND(AVG(CASE WHEN g = 'b' THEN value::DOUBLE END), 6) AS mean_b
  FROM pre
)
SELECT pt.n_a, pt.n_b, pt.mean_a, pt.mean_b,
  ROUND(pt.mean_b - pt.mean_a, 6) AS delta,
  ci.ci_lo, ci.ci_hi, ci.n_replicates
FROM pt, ci
"""


@query("ab_test_delta_ci", _ab_delta_oracle(n_replicates=32))
def q_ab_test_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B lift with error bars (operators/bootstrap.py
    bootstrap_delta_ci): users hash-split 50/50 into variants (the
    house md5 split — assignment is stable and replayable), then the
    percentile-bootstrap CI on mean(B) - mean(A); whether the CI
    crosses zero is the readout a point delta can't give. Same chunked
    one-pass draw shape as bootstrap_mean_ci, keyed (variant,
    replicate); a null split like this one should produce a CI
    straddling zero."""
    from fireball_data_processing_spark.operators.bootstrap import (
        bootstrap_delta_ci,
    )
    from fireball_data_processing_spark.operators.sampling import hash_rank

    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_id",
        "value",
        F.when(hash_rank(F.col("user_id"), "ab") < 0.5, "a")
        .otherwise("b")
        .alias("variant"),
    )
    return bootstrap_delta_ci(
        tagged, "value", key=F.col("event_id"), variant_col="variant",
        variant_a="a", variant_b="b", n_replicates=32,
    )


@query(
    "quality_ranking_rbo",
    _TTR_DOCS_CTE
    + """,
ra AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY x DESC, doc_id) AS r
  FROM d QUALIFY r <= 50
),
rb AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
  FROM documents QUALIFY r <= 50
),
mx AS (
  SELECT GREATEST(COALESCE(ra.r, 51), COALESCE(rb.r, 51)) AS m
  FROM ra FULL JOIN rb USING (doc_id)
),
hist AS (
  SELECT m, COUNT(*)::DOUBLE AS c FROM mx WHERE m <= 50 GROUP BY m
),
xd AS (
  SELECT g.d, COALESCE(SUM(h.c), 0) AS xd
  FROM generate_series(1, 50) AS g(d) LEFT JOIN hist h ON h.m <= g.d
  GROUP BY g.d
)
SELECT 50 AS k, CAST(0.9 AS DOUBLE) AS p,
  ROUND((CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))
          * SUM(ROUND(POW(0.9, d - 1), 12) * xd / d), 6) AS rbo,
  ROUND(MAX(CASE WHEN d = 50 THEN xd END) / 50.0, 6) AS overlap_at_k
FROM xd
""",
)
def q_quality_ranking_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, operators/evalmetrics.py
    rbo_at_k) between two top-50 quality orderings of the corpus —
    type-token ratio vs raw length: do the two heuristics promote the
    same documents, weighted toward the top? Kendall's tau can't compare
    indefinite rankings with disjoint tails; RBO geometrically discounts
    depth. Prefix lists come from the distributed top-k idiom
    (orderBy().limit(k) plans as TakeOrdered — no global window); all
    RBO arithmetic runs on the k-row frames."""
    from fireball_data_processing_spark.operators.evalmetrics import rbo_at_k

    d = load_table(spark, sf_dir, "documents")
    xy = _ttr_xy(d)
    w = Window.orderBy(F.desc("x"), "doc_id")
    ra = (
        xy.orderBy(F.desc("x"), "doc_id")
        .limit(50)
        .select("doc_id", F.row_number().over(w).alias("rank"))
    )
    wb = Window.orderBy(F.desc("n_chars"), "doc_id")
    rb = (
        d.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(50)
        .select("doc_id", F.row_number().over(wb).alias("rank"))
    )
    return rbo_at_k(ra, rb, k=50, p=0.9)


def _markov_oracle(n_iter: int = 12) -> str:
    """Unrolled power-iteration oracle replaying operators/markov.py
    markov_profile: LEAD pairing, dangling-dst restriction, 8-dp
    row-normalized probabilities, and n_iter matvec steps each rounded
    to 8 dp (the kmeans contract)."""
    parts = [
        _MARKOV_PAIRS_CTE + """,
kept AS (
  SELECT * FROM pairs WHERE dst IN (SELECT DISTINCT src FROM pairs)
),
m AS (
  SELECT src, dst, n,
    ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY src), 8) AS p
  FROM kept
),
states AS (SELECT DISTINCT src AS state FROM m),
pi0 AS (
  SELECT state,
    ROUND(1.0 / (SELECT COUNT(*) FROM states), 8) AS pi
  FROM states
)"""
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            """,
pi{t} AS (
  SELECT m.dst AS state, ROUND(SUM(pi.pi * m.p), 8) AS pi
  FROM m JOIN pi{p} pi ON pi.state = m.src
  GROUP BY 1
)""".format(t=t, p=t - 1)
        )
    parts.append(
        f"""
SELECT s.state, s.n_out, s.self_prob, ROUND(p.pi, 6) AS stationary_prob
FROM (
  SELECT src AS state, SUM(n)::BIGINT AS n_out,
    ROUND(COALESCE(MAX(CASE WHEN src = dst THEN p END), 0.0), 6)
      AS self_prob
  FROM m GROUP BY 1
) s JOIN pi{n_iter} p USING (state)
ORDER BY state
"""
    )
    return "".join(parts)


@query("markov_stationary_profile", _markov_oracle(n_iter=12))
def q_markov_stationary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain profile of per-user event streams
    (operators/markov.py markov_profile): empirical first-order
    transition matrix along event_id within user, then the stationary
    distribution via 12 power-iteration steps — "where does a session
    equilibrate?", the chain-level complement to the funnel's single
    ordained path (funnel_conversion_steps) and the FSMs' per-event
    walks. The data-proportional work is one lead window over the
    per-user hash exchange + one pair-count aggregate; the 12 matvecs
    run on the persisted <= |states|^2-row matrix frame with broadcast
    pi — sub-kilobyte exchanges, zero collects. The unrolled oracle
    replays every iterate via 8-dp rounding."""
    from fireball_data_processing_spark.operators.markov import markov_profile

    ev = load_table(spark, sf_dir, "events")
    return markov_profile(
        ev, key_col="user_id", order_col="event_id", state_col="event_type",
        n_iter=12,
    )


def _bt_oracle(n_iter: int = 16) -> str:
    """Unrolled MM-iteration oracle replaying operators/preference.py
    bradley_terry_scores: 6-dp per-(user, type) value sums decide each
    pairwise outcome, the comparison matrix reduces once, and every MM
    update (per-item denominator over sp>0 opponent terms, sum
    normalization) is rounded to 8 dp — the markov/kmeans unrolled-
    fixed-point contract (plain ROUND: the iterate inputs are raw
    quotients, which never land on decimal ties). Rank orders on the
    FULL-precision 8-dp final iterate (what the driver loop ranks on);
    the 6-dp display score re-rounds an 8-dp DECIMAL-by-construction
    value, exactly the systematic half-tie class, so it goes through
    :func:`_spark_round_sql` (an '..50'-ending iterate would otherwise
    round down in DuckDB and up in spark_round)."""
    parts = [
        """
WITH per AS (
  SELECT user_id, event_type, ROUND(SUM(value), 6) AS v
  FROM events GROUP BY 1, 2
),
comp AS (
  SELECT CASE WHEN a.v > b.v THEN a.event_type ELSE b.event_type END AS winner,
         CASE WHEN a.v > b.v THEN b.event_type ELSE a.event_type END AS loser
  FROM per a JOIN per b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  WHERE a.v <> b.v
),
m AS MATERIALIZED (SELECT winner, loser, COUNT(*)::BIGINT AS n FROM comp GROUP BY 1, 2),
nn AS MATERIALIZED (
  SELECT item_i, item_j, SUM(n)::BIGINT AS nij FROM (
    SELECT winner AS item_i, loser AS item_j, n FROM m
    UNION ALL SELECT loser, winner, n FROM m
  ) GROUP BY 1, 2
),
items AS MATERIALIZED (SELECT DISTINCT item_i AS item FROM nn),
w AS MATERIALIZED (
  SELECT i.item,
    COALESCE((SELECT SUM(n) FROM m WHERE winner = i.item), 0)::DOUBLE AS wins
  FROM items i
),
s0 AS MATERIALIZED (
  SELECT item,
    ROUND(1.0::DOUBLE / (SELECT COUNT(*) FROM items), 8) AS s
  FROM items
)"""
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            """,
r{t} AS MATERIALIZED (
  SELECT w.item,
    CASE WHEN den.d IS NULL OR den.d <= 0 THEN sp.s
         ELSE w.wins / den.d END AS raw
  FROM w
  JOIN s{p} sp USING (item)
  LEFT JOIN (
    SELECT nn.item_i AS item, SUM(nn.nij / (si.s + sj.s)) AS d
    FROM nn
    JOIN s{p} si ON si.item = nn.item_i
    JOIN s{p} sj ON sj.item = nn.item_j
    WHERE si.s + sj.s > 0
    GROUP BY 1
  ) den USING (item)
),
s{t} AS MATERIALIZED (
  SELECT item,
    CASE WHEN (SELECT SUM(raw) FROM r{t}) > 0
         THEN ROUND(raw / (SELECT SUM(raw) FROM r{t}), 8)
         ELSE ROUND(raw, 8) END AS s
  FROM r{t}
)""".format(t=t, p=t - 1)
        )
    parts.append(
        f"""
SELECT i.item, {_spark_round_sql("sf.s")} AS bt_score,
  CAST(w.wins AS BIGINT) AS n_wins,
  (SELECT SUM(nij) FROM nn WHERE item_i = i.item)::BIGINT AS n_comparisons,
  CAST(ROW_NUMBER() OVER (ORDER BY sf.s DESC, i.item ASC) AS BIGINT) AS rank
FROM items i JOIN s{n_iter} sf USING (item) JOIN w USING (item)
"""
    )
    return "".join(parts)


@query("bt_event_type_ranking", _bt_oracle(n_iter=16))
def q_bt_event_type_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference ranking (operators/preference.py —
    Bradley & Terry 1952, Hunter 2004 MM fit): the pairwise-comparison
    model reward-model / RLHF preference curation runs on "A beat B"
    labels, exercised here on a deterministic outcome stream — within
    each user, event type A beats B when A's 6-dp value sum is larger
    (ties drop). One co-partitioned self-join emits the outcomes, ONE
    aggregation reduces them to the item²-bounded comparison matrix,
    and the 16 MM updates run driver-side on the collected matrix (the
    raking/markov bounded-model-state contract), each iterate
    sum-normalized and rounded at 8 dp so the unrolled oracle replays
    the fit exactly."""
    from fireball_data_processing_spark.operators.preference import bt_ranking

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value"), 6).alias("v")
    )
    a = per.select(
        F.col("user_id"),
        F.col("event_type").alias("ta"),
        F.col("v").alias("va"),
    )
    b = per.select(
        F.col("user_id"),
        F.col("event_type").alias("tb"),
        F.col("v").alias("vb"),
    )
    outcomes = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .select(
            F.when(F.col("va") > F.col("vb"), F.col("ta"))
            .when(F.col("vb") > F.col("va"), F.col("tb"))
            .alias("winner"),
            F.when(F.col("va") > F.col("vb"), F.col("tb"))
            .when(F.col("vb") > F.col("va"), F.col("ta"))
            .alias("loser"),
        )
        .filter(F.col("winner").isNotNull())
    )
    return bt_ranking(outcomes, n_iter=16)


@query(
    "lang_jsd_matrix",
    """
WITH tok AS (
  SELECT lang AS d,
    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
           ' ')) AS t
  FROM documents
),
counts AS (SELECT d, t, COUNT(*)::BIGINT AS n FROM tok GROUP BY 1, 2),
probs AS (
  SELECT d, t,
    ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY d), 8) AS p
  FROM counts
),
mass AS (SELECT d, ROUND(SUM(p), 8) AS mass FROM probs GROUP BY 1),
shared AS (
  SELECT a.d AS domain_a, b.d AS domain_b,
    COUNT(*)::BIGINT AS n_shared_tokens,
    ROUND(SUM(a.p), 8) AS sp, ROUND(SUM(b.p), 8) AS sq,
    ROUND(SUM(0.5 * a.p * log2(2 * a.p / (a.p + b.p))
            + 0.5 * b.p * log2(2 * b.p / (a.p + b.p))), 8) AS shared_term
  FROM probs a JOIN probs b ON a.t = b.t AND a.d < b.d
  GROUP BY 1, 2
)
SELECT ma.d AS domain_a, mb.d AS domain_b,
  COALESCE(s.n_shared_tokens, 0)::BIGINT AS n_shared_tokens,
  ROUND(0.5 * (ma.mass - COALESCE(s.sp, 0))
      + 0.5 * (mb.mass - COALESCE(s.sq, 0))
      + COALESCE(s.shared_term, 0), 6) AS jsd_bits
FROM mass ma JOIN mass mb ON ma.d < mb.d
LEFT JOIN shared s ON s.domain_a = ma.d AND s.domain_b = mb.d
ORDER BY 1, 2
""",
)
def q_lang_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence matrix between per-language
    unigram distributions (operators/drift.py jsd_matrix): the k-way
    corpus-composition scorecard — symmetric, [0, 1]-bit bounded, and
    defined without smoothing even on disjoint vocabularies, which
    PSI/KL drift (windowed_mix_drift's two-snapshot form) is not. The
    union-free decomposition (private tokens contribute exactly p/2
    bits) turns the per-pair union frame into ONE inner self-join of
    the aggregate-sized per-domain vocabulary table; the data-
    proportional work is one explode + one (domain, token) aggregate.
    Pairs come off the broadcast domain list, so zero-overlap pairs
    still report (JSD = 1 bit)."""
    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.operators.drift import jsd_matrix

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.col("lang"),
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token"),
    )
    return jsd_matrix(toks, domain_col="lang", token_col="token")


@query(
    "vocab_richness_estimate",
    """
WITH tok AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
    'g')), ' ')) AS t
  FROM documents
),
c AS (SELECT t, COUNT(*)::BIGINT AS r FROM tok GROUP BY 1),
s AS (
  SELECT SUM(r)::BIGINT AS n_tokens, COUNT(*)::BIGINT AS v_observed,
    SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
    SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
  FROM c
)
SELECT n_tokens, v_observed, f1, f2,
  ROUND(v_observed + f1::DOUBLE * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1,
  ROUND(1.0 - f1::DOUBLE / n_tokens, 6) AS good_coverage,
  ROUND(CASE WHEN f1 > 0 THEN 2.0 * f2 / f1 END, 6) AS gt_singleton_rate
FROM s
""",
)
def q_vocab_richness_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Species-richness estimate of the corpus vocabulary
    (operators/profile.py vocab_richness): bias-corrected Chao1 lower
    bound on TRUE vocabulary size, Good's coverage (P(next token is an
    already-seen type) = 1 - f1/N), and the Good-Turing adjusted hapax
    rate — all from the frequency-of-frequencies. Answers the sampling
    question vocab_growth_curve (observed Heaps' curve) and
    zipf_fit_profile (head shape) leave open: how much vocabulary has
    this corpus NOT yet shown? One token-count aggregate (the only
    data-proportional exchange) + one conditional-sum aggregate over
    the count table."""
    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.operators.profile import vocab_richness

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token")
    )
    return vocab_richness(toks, "token")


def _bandit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(context, action, reward)``: the events read as a logged bandit —
    user segment ``user_id % 4``, the event type served, its value."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % 4).alias("context"),
        F.col("event_type").alias("action"),
        F.col("value").alias("reward"),
    )


@query(
    "offpolicy_value_snips",
    _LOGGED_POLICY_CTE + """,
j AS (
  SELECT b.r, ROUND(0.2, 8) / p.pi_logged AS w
  FROM base b JOIN props p USING (context, action)
),
agg AS (
  SELECT COUNT(*)::BIGINT AS n,
    ROUND(AVG(r), 8) AS logged_value,
    ROUND(SUM(w * r), 8) AS swr,
    ROUND(SUM(w), 8) AS sw,
    ROUND(SUM(w * w), 8) AS sww
  FROM j
)
SELECT n,
  (SELECT COUNT(DISTINCT action) FROM props)::BIGINT AS n_actions,
  ROUND(logged_value, 6) AS logged_value,
  ROUND(swr / n, 6) AS ips_value,
  ROUND(swr / sw, 6) AS snips_value,
  ROUND(sw * sw / sww, 6) AS ess
FROM agg
""",
)
def q_offpolicy_value_snips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy value of a uniform routing policy on the logged event
    stream (operators/ope.py snips_value): IPS and self-normalized IPS
    estimates of the reward a policy serving every event type with
    probability 1/5 WOULD have earned, re-weighted from what was
    actually logged — the counterfactual complement to ab_test_delta_ci
    (which needs the treatment actually served). Logged propensities are
    empirical P(action | user-segment) (context = user_id % 4), built by
    one partial-combining count and broadcast back into the scan; the
    estimate is one five-sum aggregate. ESS reports how many effective
    samples survive the re-weighting. Zero collects, zero windows over
    data."""
    from fireball_data_processing_spark.operators.ope import snips_value

    base = _bandit_log(spark, sf_dir)
    uniform = {a: 0.2 for a in ["view", "click", "purchase", "signup", "error"]}
    return snips_value(
        base, "context", "action", "reward", target_probs=uniform
    )


@query(
    "neyman_stratified_sample",
    """
WITH stats AS (
  SELECT source AS stratum, COUNT(*)::BIGINT AS n_pop,
    ROUND(COALESCE(stddev_pop(n_chars::DOUBLE), 0.0), 8) AS sigma
  FROM documents GROUP BY 1
),
a AS (
  SELECT stratum, n_pop, sigma,
    ROUND(n_pop * sigma / SUM(n_pop * sigma) OVER (), 8) AS share
  FROM stats
),
r AS (
  SELECT stratum, n_pop, sigma, share,
    LEAST(n_pop, CAST(FLOOR(120.0 * share + 0.5) AS BIGINT)) AS n_target,
    ROUND(LEAST(n_pop, CAST(FLOOR(120.0 * share + 0.5) AS BIGINT))::DOUBLE
          / n_pop, 8) AS rate
  FROM a
)
SELECT r.stratum, r.n_pop, r.sigma, r.share, r.n_target,
  SUM(CASE WHEN ('0x' || substr(md5('neyman' || CAST(d.doc_id AS VARCHAR)),
                 1, 8))::BIGINT / 4294967296.0 < r.rate
      THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM documents d JOIN r ON d.source = r.stratum
GROUP BY 1, 2, 3, 4, 5
ORDER BY 1
""",
)
def q_neyman_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-optimal stratified sampling plan + realization
    (operators/sampling.py neyman_allocation composed with a
    hash_rank threshold): allocate a 120-row budget
    across document sources by n_h ∝ N_h·σ_h (σ of n_chars) — diverse
    strata earn more budget than uniform ones, the estimator-variance-
    minimizing rule proportional allocation ignores — then realize each
    stratum's rate as the zero-shuffle hash-threshold filter (the
    exact-count rank pick would serialize hot strata; the binomial
    threshold is the 100 TB form). Reports per-stratum plan vs realized
    keep count. One grouped aggregate for stats, broadcast plan join,
    one conditional-sum aggregate."""
    from fireball_data_processing_spark.operators.sampling import (
        hash_rank,
        neyman_allocation,
    )

    d = load_table(spark, sf_dir, "documents")
    alloc = neyman_allocation(d, "source", "n_chars", n_total=120)
    joined = d.select("doc_id", F.col("source").alias("stratum")).join(
        F.broadcast(alloc), "stratum"
    )
    kept = F.when(
        hash_rank(F.col("doc_id"), "neyman") < F.col("rate"), 1
    ).otherwise(0)
    return (
        joined.groupBy("stratum", "n_pop", "sigma", "share", "n_target")
        .agg(F.sum(kept).cast("bigint").alias("n_kept"))
        .orderBy("stratum")
    )


@query(
    "annotator_disagreement_topk",
    """
WITH r AS (SELECT event_id % 200 AS item, event_type AS label FROM events),
c AS (SELECT item, label, COUNT(*)::BIGINT AS c FROM r GROUP BY 1, 2),
t AS (
  SELECT item, c, SUM(c) OVER (PARTITION BY item) AS n_votes,
    -(c::DOUBLE / SUM(c) OVER (PARTITION BY item))
      * log2(c::DOUBLE / SUM(c) OVER (PARTITION BY item)) AS h
  FROM c
),
a AS (
  SELECT item, MAX(n_votes)::BIGINT AS n_votes,
    COUNT(*)::BIGINT AS n_labels,
    ROUND(MAX(c)::DOUBLE / MAX(n_votes), 6) AS majority_share,
    ROUND(SUM(h), 6) AS entropy_bits,
    ROUND(CASE WHEN COUNT(*) > 1
               THEN SUM(h) / log2(COUNT(*)::DOUBLE) ELSE 0.0 END, 6)
      AS norm_entropy
  FROM t GROUP BY 1
)
SELECT * FROM a
ORDER BY norm_entropy DESC, entropy_bits DESC, item
LIMIT 20
""",
)
def q_annotator_disagreement_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most panel-contested items (plans/agreement.py
    item_disagreement) over the synthetic rater panel dawid_skene uses:
    per-item vote entropy (bits), entropy normalized by the item's label
    diversity, and the majority share — WHICH items to adjudicate, the
    item-level question the corpus-level kappa/alpha/tau and the
    posterior-producing dawid_skene don't rank. Two partial-combining
    aggregates over (item, label) counts; top-20 via orderBy().limit()
    = TakeOrdered, with the item id as the deterministic tiebreak."""
    from fireball_data_processing_spark.plans.agreement import (
        item_disagreement,
    )

    ev = load_table(spark, sf_dir, "events")
    ratings = ev.select(
        (F.col("event_id") % 200).alias("item"),
        F.col("event_type").alias("label"),
    )
    return (
        item_disagreement(ratings)
        .orderBy(F.desc("norm_entropy"), F.desc("entropy_bits"), "item")
        .limit(20)
    )


def _sprt_oracle(
    p0: float, p1: float, alpha: float, beta: float
) -> str:
    import math as _m

    l1 = round(_m.log(p1 / p0), 8)
    l0 = round(_m.log((1.0 - p1) / (1.0 - p0)), 8)
    upper = round(_m.log((1.0 - beta) / alpha), 8)
    lower = round(_m.log(beta / (1.0 - alpha)), 8)
    return f"""
WITH s AS (
  SELECT user_id % 8 AS grp, event_id,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
),
w AS (
  SELECT grp,
    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY event_id) AS k,
    SUM(x) OVER (PARTITION BY grp ORDER BY event_id
                 ROWS UNBOUNDED PRECEDING) AS n1
  FROM s
),
sc AS (
  SELECT grp, k,
    ROUND(n1 * ({l1}) + (k - n1) * ({l0}), 8) AS llr
  FROM w
),
cr AS (
  SELECT grp, k, llr,
    CASE WHEN llr >= ({upper}) THEN 'accept_h1'
         WHEN llr <= ({lower}) THEN 'accept_h0' END AS crossed
  FROM sc
)
SELECT grp AS "group",
  COALESCE(arg_min(crossed, k) FILTER (WHERE crossed IS NOT NULL),
           'continue') AS decision,
  arg_min(k, k) FILTER (WHERE crossed IS NOT NULL)::BIGINT
    AS n_at_decision,
  ROUND(arg_min(llr, k) FILTER (WHERE crossed IS NOT NULL), 6)
    AS llr_at_decision,
  MAX(k)::BIGINT AS n_total,
  ROUND(arg_max(llr, k), 6) AS llr_final
FROM cr GROUP BY 1 ORDER BY 1
"""


@query(
    "sprt_conversion_decision",
    _sprt_oracle(p0=0.15, p1=0.25, alpha=0.05, beta=0.05),
)
def q_sprt_conversion_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT per user segment (operators/seqtest.py
    sprt_decisions): testing H0 purchase-rate = 0.15 vs H1 = 0.25 at
    alpha = beta = 0.05, walking each segment's event stream in
    event_id order and reporting the FIRST boundary crossing — how
    early the decision could have been called, the sequential
    complement to the fixed-horizon ab_test_delta_ci. Grouped
    sequential tests parallelize across the segment hash exchange
    (a single global test would serialize); the LLR is integer
    cumulative counts times 8-dp constants, so the crossing index is
    engine-exact. One window + one aggregate."""
    from fireball_data_processing_spark.operators.seqtest import sprt_decisions

    ev = load_table(spark, sf_dir, "events")
    return sprt_decisions(
        ev.select((F.col("user_id") % 8).alias("seg"), "event_id",
                  "event_type"),
        group_col="seg",
        order_col="event_id",
        success=F.col("event_type") == "purchase",
        p0=0.15,
        p1=0.25,
        alpha=0.05,
        beta=0.05,
    )


@query(
    "decayed_event_value",
    """
WITH ref AS (SELECT MAX(epoch_ns(ts)) AS ref_ns FROM events),
w AS (
  SELECT event_type, value::DOUBLE AS v,
    ROUND(POWER(0.5, ((ref.ref_ns - epoch_ns(ts))::DOUBLE
                      / 86400000000000.0) / 7.0), 8) AS wt
  FROM events, ref
)
SELECT event_type, COUNT(*)::BIGINT AS n,
  ROUND(ROUND(SUM(v), 8), 6) AS raw_sum,
  ROUND(ROUND(SUM(v * wt), 8), 6) AS decayed_sum,
  ROUND(ROUND(SUM(v * wt), 8) / ROUND(SUM(v), 8), 6) AS freshness_ratio
FROM w GROUP BY 1 ORDER BY 1
""",
)
def q_decayed_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted value per event type
    (operators/selection.py exp_decay_weight): each event's value
    decays with a 7-day half-life from the corpus's newest timestamp —
    the freshness-weighted aggregate a training-data pipeline uses to
    discount stale traffic (a hard recency cutoff is this weight's
    limit). The reference anchor is ONE one-row max aggregate broadcast
    back into the scan; the weight is pure codegen arithmetic on int64
    epoch-nanos; one grouped aggregate. freshness_ratio =
    decayed/raw — 1.0 means all-fresh traffic."""
    from fireball_data_processing_spark.operators.selection import (
        exp_decay_weight,
    )

    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("ref_ns"))
    wt = exp_decay_weight(F.col("ts"), F.col("ref_ns"), half_life_days=7.0)
    v = F.col("value").cast("double")
    return (
        ev.crossJoin(F.broadcast(ref))
        .select("event_type", v.alias("v"), wt.alias("wt"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("v"), 8).alias("__raw"),
            F.round(F.sum(F.col("v") * F.col("wt")), 8).alias("__dec"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("__raw"), 6).alias("raw_sum"),
            F.round(F.col("__dec"), 6).alias("decayed_sum"),
            F.round(F.col("__dec") / F.col("__raw"), 6).alias(
                "freshness_ratio"
            ),
        )
        .orderBy("event_type")
    )


def _pca_oracle(dim: int = 64, n_iter: int = 6, tail: str | None = None) -> str:
    """Unrolled power-iteration oracle replaying operators/pca.py
    power_iteration_pca in dim-exploded join form: 8-dp rounding of the
    mean, every per-vector projection, every matvec component, the norm,
    and the normalized iterate each step (the kmeans contract).
    ``tail`` overrides the final SELECT (queries that PROJECT with the
    fitted component instead of reporting it)."""
    parts = [
        f"""
WITH x AS (
  SELECT vec_id, t.d AS d, embedding[t.d]::DOUBLE AS val
  FROM embeddings, UNNEST(generate_series(1, {dim})) AS t(d)
),
mu AS (SELECT d, ROUND(AVG(val), 8) AS mu FROM x GROUP BY 1),
c AS (
  SELECT x.vec_id, x.d, x.val - mu.mu AS cv
  FROM x JOIN mu USING (d)
),
tot AS (SELECT ROUND(SUM(cv * cv), 8) AS tot FROM c),
v0 AS (SELECT d, ROUND(1.0 / SQRT({dim}), 8) AS v FROM mu)"""
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            """,
s{t} AS (
  SELECT c.vec_id, ROUND(SUM(c.cv * v.v), 8) AS s
  FROM c JOIN v{p} v USING (d) GROUP BY 1
),
u{t} AS (
  SELECT c.d, ROUND(SUM(c.cv * s.s), 8) AS u
  FROM c JOIN s{t} s USING (vec_id) GROUP BY 1
),
n{t} AS (SELECT ROUND(SQRT(SUM(u * u)), 8) AS nrm FROM u{t}),
v{t} AS (SELECT d, ROUND(u / nrm, 8) AS v FROM u{t}, n{t})""".format(
                t=t, p=t - 1
            )
        )
    parts.append(
        tail.format(T=n_iter)
        if tail is not None
        else f"""
SELECT v.d AS dim, ROUND(v.v, 6) AS loading,
  ROUND(n.nrm, 6) AS eigenvalue,
  ROUND(n.nrm / t.tot, 6) AS var_share
FROM v{n_iter} v, n{n_iter} n, tot t
ORDER BY dim
"""
    )
    return "".join(parts)


@query("embedding_pca_top_component", _pca_oracle(dim=64, n_iter=6))
def q_embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus
    (operators/pca.py power_iteration_pca): 6 power-iteration steps
    against the scatter matrix WITHOUT materializing it — per step, one
    scan computes the centered projection s = (x-mu).v as a single
    codegen expression (no explode, no joins) and one 64-column
    partial-combining aggregate folds the matvec; mu and v are bounded
    64-float driver collects re-entering as literals (the kmeans
    contract). Reports the unit loading vector, the scatter eigenvalue
    ||S v||, and its share of total scatter — the anisotropy number
    behind semantic-dedup quality and quantizer design. The unrolled
    oracle replays the trajectory in dim-exploded join form."""
    from fireball_data_processing_spark.operators.pca import (
        power_iteration_pca,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return power_iteration_pca(e, "embedding", dim=64, n_iter=6)


@query(
    "kn_bigram_doc_scores",
    _WORDS_NONEMPTY_CTE
    + """,
occ AS """ + _BIGRAMS_BODY + """,
types AS (SELECT prev, cur, COUNT(*)::BIGINT AS c FROM occ GROUP BY 1, 2),
l AS (
  SELECT prev, SUM(c)::DOUBLE AS cprev, COUNT(*)::DOUBLE AS n1_left
  FROM types GROUP BY 1
),
r AS (SELECT cur, COUNT(*)::DOUBLE AS n1_right FROM types GROUP BY 1),
tot AS (SELECT COUNT(*)::DOUBLE AS n1_tot FROM types),
prob AS (
  SELECT t.prev, t.cur,
    ROUND(GREATEST(t.c - 0.75, 0) / l.cprev
        + (0.75 * l.n1_left / l.cprev) * (r.n1_right / tot.n1_tot), 8) AS p
  FROM types t JOIN l USING (prev) JOIN r USING (cur), tot
)
SELECT o.doc_id, COUNT(*)::BIGINT AS n_bigrams,
  ROUND(AVG(-log2(p.p)), 6) AS kn_bits_per_token
FROM occ o JOIN prob p USING (prev, cur)
GROUP BY 1
""",
)
def q_kn_bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an interpolated Kneser-Ney
    bigram LM (functions/textstats.py kneser_ney_logprob) — the
    smoothing class the CCNet KenLM gate actually uses: rare-but-valid
    continuations back off to CONTINUATION probability (how many
    distinct contexts a word follows) instead of being flat-penalized
    like doc_bigram_logprob's add-alpha. One bigram explode; the
    probability table is type-grain (one groupBy) with aggregate-sized
    marginal joins; occurrences take one hash join + one per-doc
    rollup."""
    from fireball_data_processing_spark.functions.textstats import (
        kneser_ney_logprob,
    )

    d = load_table(spark, sf_dir, "documents")
    return kneser_ney_logprob(d)


@query(
    "dedup_mix_bias",
    """
WITH docs AS (
  SELECT doc_id, source,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
  FROM documents
),
clusters AS (
  SELECT content_hash, MIN(doc_id) AS canonical_id, COUNT(*)::BIGINT AS n_docs
  FROM docs GROUP BY 1
),
surv AS (
  SELECT d.source, c.n_docs
  FROM docs d JOIN clusters c
    ON d.content_hash = c.content_hash AND d.doc_id = c.canonical_id
),
raw AS (SELECT source, COUNT(*)::BIGINT AS n_raw FROM docs GROUP BY 1),
s AS (
  SELECT source, COUNT(*)::BIGINT AS n_survivors,
    SUM(n_docs)::BIGINT AS reweighted
  FROM surv GROUP BY 1
)
SELECT r.source, r.n_raw, s.n_survivors,
  ROUND(r.n_raw::DOUBLE / SUM(r.n_raw) OVER (), 6) AS raw_share,
  ROUND(s.n_survivors::DOUBLE / SUM(s.n_survivors) OVER (), 6)
    AS survivor_share,
  ROUND(s.reweighted::DOUBLE / SUM(s.reweighted) OVER (), 6)
    AS reweighted_share,
  ROUND(s.n_survivors::DOUBLE / SUM(s.n_survivors) OVER ()
      - r.n_raw::DOUBLE / SUM(r.n_raw) OVER (), 6) AS dedup_bias
FROM raw r JOIN s USING (source)
ORDER BY source
""",
)
def q_dedup_mix_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does deduplication DISTORT the source mix? (operators/dedup.py
    exact_dedup_groups composed with survivor reweighting): per source,
    the raw share, the naive post-dedup survivor share, and the
    reweighted share (each survivor carries its cluster size — the
    importance weight that makes downstream statistics unbiased again).
    dedup_bias = survivor_share - raw_share: nonzero when duplicate
    clusters span sources and the canonical's source absorbs the whole
    cluster — the composition-shift effect a curation pipeline must
    check before trusting post-dedup mixture numbers. One digest
    groupBy + one hash join back + two grouped aggregates; windows run
    over the |sources|-row frame."""
    from fireball_data_processing_spark.operators.dedup import (
        exact_dedup_groups,
    )
    from fireball_data_processing_spark.functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "source",
        F.md5(normalize_text(F.col("text"))).alias("content_hash"),
    )
    clusters = exact_dedup_groups(d)
    surv = docs.join(clusters, "content_hash").filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw")
    )
    s = surv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_survivors"),
        F.sum("n_docs").cast("bigint").alias("reweighted"),
    )
    w = Window.partitionBy()
    return (
        raw.join(s, "source")
        .select(
            "source",
            "n_raw",
            "n_survivors",
            F.round(
                F.col("n_raw").cast("double") / F.sum("n_raw").over(w), 6
            ).alias("raw_share"),
            F.round(
                F.col("n_survivors").cast("double")
                / F.sum("n_survivors").over(w),
                6,
            ).alias("survivor_share"),
            F.round(
                F.col("reweighted").cast("double")
                / F.sum("reweighted").over(w),
                6,
            ).alias("reweighted_share"),
            F.round(
                F.col("n_survivors").cast("double")
                / F.sum("n_survivors").over(w)
                - F.col("n_raw").cast("double") / F.sum("n_raw").over(w),
                6,
            ).alias("dedup_bias"),
        )
        .orderBy("source")
    )


@query(
    "offpolicy_value_dr",
    _LOGGED_POLICY_CTE + """,
qhat AS (
  SELECT context, action, ROUND(AVG(r), 8) AS q FROM base GROUP BY 1, 2
),
dm AS (
  SELECT context, ROUND(SUM(ROUND(0.2, 8) * q), 8) AS dm_term
  FROM qhat GROUP BY 1
),
j AS (
  SELECT b.r, ROUND(0.2, 8) / p.pi_logged AS w, q.q, d.dm_term
  FROM base b
  JOIN props p USING (context, action)
  JOIN qhat q USING (context, action)
  JOIN dm d USING (context)
),
agg AS (
  SELECT COUNT(*)::BIGINT AS n,
    ROUND(SUM(dm_term), 8) AS sdm,
    ROUND(SUM(w * r), 8) AS swr,
    ROUND(SUM(dm_term + w * (r - q)), 8) AS sdr
  FROM j
)
SELECT n, ROUND(sdm / n, 6) AS dm_value, ROUND(swr / n, 6) AS ips_value,
  ROUND(sdr / n, 6) AS dr_value
FROM agg
""",
)
def q_offpolicy_value_dr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy value (operators/ope.py dr_value,
    Dudik et al. 2011) of the uniform routing policy on logged events:
    direct-method baseline from the empirical per-(segment, action)
    reward model plus the importance-weighted residual — unbiased if
    EITHER model is right, completing the OPE family next to
    offpolicy_value_snips. All model tables are aggregate-sized
    broadcast joins; one four-sum final pass; zero collects."""
    from fireball_data_processing_spark.operators.ope import dr_value

    base = _bandit_log(spark, sf_dir)
    uniform = {a: 0.2 for a in ["view", "click", "purchase", "signup", "error"]}
    return dr_value(base, "context", "action", "reward", uniform)


@query(
    "mannwhitney_value_shift",
    """
WITH vals AS (
  SELECT value::DOUBLE AS v,
    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS b
  FROM events
),
per AS (
  SELECT v, COUNT(*)::DOUBLE AS t, SUM(b)::DOUBLE AS tb FROM vals GROUP BY 1
),
ranked AS (
  SELECT v, t, tb,
    COALESCE(SUM(t) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1) / 2.0 AS avg_rank
  FROM per
),
agg AS (
  SELECT ROUND(SUM((t - tb) * avg_rank), 8) AS ra,
    SUM(t - tb) AS na, SUM(tb) AS nb,
    ROUND(SUM(t * t * t - t), 8) AS tie_mass
  FROM ranked
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
  ROUND(ra - na * (na + 1) / 2.0, 6) AS u_a,
  ROUND((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
      / SQRT((na * nb / 12.0)
             * ((na + nb + 1.0)
                - tie_mass / ((na + nb) * (na + nb - 1.0)))), 6) AS z
FROM agg
""",
)
def q_mannwhitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the two user-parity halves of the event
    value distribution (operators/hyptest.py mann_whitney_u): the
    rank-based two-sample test that detects stochastic-dominance shifts
    the mean-based ab_test_delta_ci is blind to (heavy tails, shape
    changes), with exact midrank tie handling and the tie-corrected
    variance. Ranks come from cumulative counts over the
    distinct-value grain — one groupBy + one window over distinct
    values, never a global per-row sort (at 100 TB: pre-bucket through
    histogram_quantiles cuts, documented in the module)."""
    from fireball_data_processing_spark.operators.hyptest import (
        mann_whitney_u,
    )

    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", is_b=F.col("user_id") % 2 == 1)


@query(
    "source_lang_association",
    """
WITH obs AS (
  SELECT source AS ra, lang AS cb, COUNT(*)::DOUBLE AS o
  FROM documents GROUP BY 1, 2
),
rows_ AS (SELECT ra, SUM(o) AS rt FROM obs GROUP BY 1),
cols_ AS (SELECT cb, SUM(o) AS ct FROM obs GROUP BY 1),
tot AS (SELECT SUM(o) AS n FROM obs),
cells AS (
  SELECT r.ra, c.cb, t.n, COALESCE(obs.o, 0.0) AS o,
    r.rt * c.ct / t.n AS e
  FROM rows_ r CROSS JOIN cols_ c CROSS JOIN tot t
  LEFT JOIN obs ON obs.ra = r.ra AND obs.cb = c.cb
),
stats AS (
  SELECT MAX(n) AS n, COUNT(DISTINCT ra)::BIGINT AS n_rows,
    COUNT(DISTINCT cb)::BIGINT AS n_cols,
    ROUND(SUM((o - e) * (o - e) / e), 8) AS chi2
  FROM cells
)
SELECT n::BIGINT AS n, n_rows, n_cols, ROUND(chi2, 6) AS chi2,
  ((n_rows - 1) * (n_cols - 1))::BIGINT AS dof,
  ROUND(SQRT(chi2 / (n * LEAST(n_rows - 1, n_cols - 1))), 6) AS cramers_v
FROM stats
""",
)
def q_source_lang_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test + Cramér's V between document
    source and language (operators/hyptest.py chi2_association): is the
    corpus mix separable (every source shares one language profile) or
    associated (languages concentrate in sources — which changes what
    source-stratified sampling does to language balance)? The cell
    frame is the full category cross of two aggregate-sized marginal
    frames left-joined with the contingency counts, so zero-observed
    cells contribute their expected mass exactly; one contingency
    aggregate over the data."""
    from fireball_data_processing_spark.operators.hyptest import (
        chi2_association,
    )

    d = load_table(spark, sf_dir, "documents")
    return chi2_association(d, "source", "lang")


@query(
    "kruskal_value_by_type",
    """
WITH vals AS (
  SELECT value::DOUBLE AS v, event_type AS g FROM events
  WHERE value IS NOT NULL
),
pvg AS (
  SELECT v, g, COUNT(*)::DOUBLE AS tg FROM vals GROUP BY 1, 2
),
pv AS (SELECT v, SUM(tg) AS t FROM pvg GROUP BY 1),
rv AS (
  SELECT v, t,
    COALESCE(SUM(t) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1) / 2.0 AS avg_rank
  FROM pv
),
pg AS (
  SELECT g, SUM(tg) AS n_g, ROUND(SUM(tg * avg_rank), 8) AS r_g
  FROM pvg JOIN rv USING (v) GROUP BY g
),
gs AS (
  SELECT COUNT(*)::DOUBLE AS k, SUM(n_g) AS n,
    ROUND(SUM(r_g * r_g / n_g), 8) AS s
  FROM pg
),
ts AS (SELECT ROUND(SUM(t * t * t - t), 8) AS tie_mass FROM rv)
SELECT n::BIGINT AS n, k::BIGINT AS n_groups,
  ROUND(12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0), 6) AS h,
  (k - 1)::BIGINT AS dof,
  ROUND(1.0 - tie_mass / (n * n * n - n), 6) AS tie_correction,
  ROUND((12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0))
      / (1.0 - tie_mass / (n * n * n - n)), 6) AS h_adj,
  ROUND((12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0))
      / (1.0 - tie_mass / (n * n * n - n)) / (n - 1.0), 6) AS epsilon_sq
FROM gs CROSS JOIN ts
""",
)
def q_kruskal_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five event-type groups on value
    (operators/hyptest.py kruskal_wallis): the k-group generalization
    of mannwhitney_value_shift — do ANY event types draw from a
    different value distribution, judged on midranks with the exact
    tie correction? Same distinct-value-grain rank machinery (one
    groupBy + one window over distinct values, never a per-row global
    sort; pre-bucket through histogram_quantiles cuts at 100 TB), one
    extra per-group aggregate, single-row output with the
    epsilon-squared effect size."""
    from fireball_data_processing_spark.operators.hyptest import (
        kruskal_wallis,
    )

    ev = load_table(spark, sf_dir, "events")
    return kruskal_wallis(ev, "value", "event_type")


@query(
    "spearman_doc_metrics",
    """
WITH q AS (
  SELECT doc_id,
    length(text) AS n_chars,
    regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
),
base AS (
  SELECT doc_id,
    n_chars::DOUBLE AS n_chars,
    len(words)::DOUBLE AS n_words,
    COALESCE(CASE WHEN len(words) > 0 THEN
      list_sum(list_transform(words, w -> length(w)))::DOUBLE / len(words)
    END, 0.0) AS mean_word_len,
    COALESCE(CASE WHEN len(words) > 0 THEN
      len(list_filter(words, w -> lower(w) IN
        ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE
      / len(words) END, 0.0) AS stopword_ratio
  FROM q
),
long AS (
  SELECT doc_id, 'mean_word_len' AS metric, mean_word_len AS x FROM base
  UNION ALL SELECT doc_id, 'n_chars', n_chars FROM base
  UNION ALL SELECT doc_id, 'n_words', n_words FROM base
  UNION ALL SELECT doc_id, 'stopword_ratio', stopword_ratio FROM base
),
pmx AS (
  SELECT metric, x, COUNT(*)::DOUBLE AS t FROM long GROUP BY 1, 2
),
rv AS (
  SELECT metric, x,
    COALESCE(SUM(t) OVER (PARTITION BY metric ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1) / 2.0 AS r
  FROM pmx
),
ranked AS (
  SELECT l.doc_id, l.metric, rv.r
  FROM long l JOIN rv ON l.metric = rv.metric AND l.x = rv.x
),
pairs AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
    a.r AS ra, b.r AS rb
  FROM ranked a JOIN ranked b ON a.doc_id = b.doc_id
  WHERE a.metric < b.metric
),
g AS (
  SELECT metric_a, metric_b, COUNT(*)::DOUBLE AS n,
    ROUND(SUM(ra), 8) AS sa, ROUND(SUM(rb), 8) AS sb,
    ROUND(SUM(ra * rb), 8) AS sab,
    ROUND(SUM(ra * ra), 8) AS saa, ROUND(SUM(rb * rb), 8) AS sbb
  FROM pairs GROUP BY 1, 2
)
SELECT metric_a, metric_b, n::BIGINT AS n,
  ROUND(CASE WHEN (n * saa - sa * sa) * (n * sbb - sb * sb) > 0 THEN
    (n * sab - sa * sb)
      / SQRT((n * saa - sa * sa) * (n * sbb - sb * sb)) END, 6) AS rho
FROM g ORDER BY metric_a, metric_b
""",
)
def q_spearman_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rank correlation between four document quality
    metrics (operators/hyptest.py spearman_matrix): which signals are
    monotonically redundant before composing them into one quality
    score? Metrics melt to long form (one explode), midranks come from
    a per-metric cumulative window over the (metric, distinct value)
    grain, and the 6 pairs aggregate off one self-join on doc_id.
    Metric expressions are engine-exact (integer counts and single
    IEEE divisions), so value-grain rank grouping agrees bit-for-bit
    cross-engine."""
    from fireball_data_processing_spark.functions.textstats import (
        quality_features,
    )
    from fireball_data_processing_spark.operators.hyptest import (
        spearman_matrix,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    metrics = {
        "n_chars": feats["n_chars"].cast("double"),
        "n_words": feats["n_words"].cast("double"),
        "mean_word_len": F.coalesce(feats["mean_word_len"], F.lit(0.0)),
        "stopword_ratio": F.coalesce(feats["stopword_ratio"], F.lit(0.0)),
    }
    return spearman_matrix(d, "doc_id", metrics)


@query(
    "mcnemar_gate_disagreement",
    _GOPHER_METRICS_CTE + """,
gop AS (
  SELECT doc_id,
    COALESCE((n_words >= 50 AND n_words <= 100000
      AND mean_wl >= 3.0 AND mean_wl <= 10.0
      AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8 AND stop_hits >= 2
      AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3), FALSE) AS a
  FROM m
),
""" + _FLESCH_COUNTS_CTE + """,
rd AS (
  SELECT doc_id,
    COALESCE(CASE WHEN n_words > 0 THEN
      ROUND(206.835 - 1.015 * n_words / n_sentences
                    - 84.6 * n_syllables / n_words, 6) >= 30.0 END, FALSE)
      AS b
  FROM f
),
j AS (SELECT a, b FROM gop JOIN rd USING (doc_id)),
cells AS (
  SELECT COUNT(*) AS n,
    SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS both_pass,
    SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS a_only,
    SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS b_only,
    SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS neither
  FROM j
)
SELECT n::BIGINT AS n, both_pass::BIGINT AS both_pass,
  a_only::BIGINT AS a_only, b_only::BIGINT AS b_only,
  neither::BIGINT AS neither,
  ROUND(CASE WHEN a_only + b_only > 0 THEN
    (GREATEST(ABS(a_only - b_only)::DOUBLE - 1.0, 0.0)
     * GREATEST(ABS(a_only - b_only)::DOUBLE - 1.0, 0.0))
    / (a_only + b_only) END, 6) AS chi2_cc
FROM cells
""",
)
def q_mcnemar_gate_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between the Gopher shape gate and the
    Flesch readability gate on the SAME documents (operators/hyptest.py
    mcnemar_paired): do the two filters disagree symmetrically (they
    reject different random slices) or systematically (one is strictly
    stricter — the continuity-corrected chi-squared on the discordant
    cells)? The paired design is the right comparison for gate A/B
    decisions; comparing marginal pass rates ignores that both score
    the same items. Pure per-row expressions + one single-row
    aggregate — zero shuffles."""
    from fireball_data_processing_spark.functions.textstats import (
        flesch_features,
        gopher_rules,
    )
    from fireball_data_processing_spark.operators.hyptest import (
        mcnemar_paired,
    )

    d = load_table(spark, sf_dir, "documents")
    gop = gopher_rules(F.col("text"))["passes_gopher"]
    ease = flesch_features(F.col("text"))["reading_ease"]
    return mcnemar_paired(d, gop, ease >= 30.0)


@query(
    "cochran_gate_family",
    _GOPHER_METRICS_CTE + """,
gop AS (
  SELECT doc_id,
    COALESCE((n_words >= 50 AND n_words <= 100000
      AND mean_wl >= 3.0 AND mean_wl <= 10.0
      AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8 AND stop_hits >= 2
      AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3), FALSE) AS ga
  FROM m
),
""" + _FLESCH_COUNTS_CTE + """,
rd AS (
  SELECT doc_id,
    COALESCE(CASE WHEN n_words > 0 THEN
      ROUND(206.835 - 1.015 * n_words / n_sentences
                    - 84.6 * n_syllables / n_words, 6) >= 30.0 END, FALSE)
      AS gb
  FROM f
),
al AS (
  SELECT doc_id,
    COALESCE(CASE WHEN length(text) > 0 THEN
      length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        / length(text) >= 0.6 END, FALSE) AS gc
  FROM documents
),
j AS (
  SELECT (CASE WHEN ga THEN 1 ELSE 0 END) AS a,
    (CASE WHEN gb THEN 1 ELSE 0 END) AS b,
    (CASE WHEN gc THEN 1 ELSE 0 END) AS c
  FROM gop JOIN rd USING (doc_id) JOIN al USING (doc_id)
),
s AS (
  SELECT COUNT(*)::DOUBLE AS n, SUM(a + b + c)::DOUBLE AS t,
    SUM((a + b + c) * (a + b + c))::DOUBLE AS l2,
    SUM(a)::DOUBLE AS sa, SUM(b)::DOUBLE AS sb, SUM(c)::DOUBLE AS sc
  FROM j
)
SELECT n::BIGINT AS n, 3::BIGINT AS k,
  ROUND(CASE WHEN 3.0 * t - l2 > 0 THEN
    2.0 * (3.0 * (sa * sa + sb * sb + sc * sc) - t * t)
      / (3.0 * t - l2) END, 6) AS q,
  2::BIGINT AS dof,
  sc::BIGINT AS pass_alphaness, sa::BIGINT AS pass_gopher,
  sb::BIGINT AS pass_readability
FROM s
""",
)
def q_cochran_gate_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE quality gates scored on the same
    documents (operators/hyptest.py cochran_q — the k-gate
    generalization of mcnemar_gate_disagreement): do the Gopher shape
    gate, the Flesch readability gate, and an alphabetic-density gate
    pass at the same rate once the pairing is accounted for? The
    family-level sanity check before composing gates into one filter
    (k = 2 reduces to uncorrected McNemar). Per-row pass count and its
    square fold into the SAME single aggregate as the per-gate sums —
    one scan, zero shuffles."""
    from fireball_data_processing_spark.functions.textstats import (
        flesch_features,
        gopher_rules,
        quality_features,
    )
    from fireball_data_processing_spark.operators.hyptest import cochran_q

    d = load_table(spark, sf_dir, "documents")
    gates = {
        "gopher": gopher_rules(F.col("text"))["passes_gopher"],
        "readability": flesch_features(F.col("text"))["reading_ease"]
        >= 30.0,
        "alphaness": quality_features(F.col("text"))["alpha_ratio"] >= 0.6,
    }
    return cochran_q(d, gates)


@query(
    "token_mass_lorenz",
    """
WITH d AS (
  SELECT doc_id,
    len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+',
      ' ', 'g')), ' '), s -> s <> ''))::DOUBLE AS v
  FROM documents
),
ranked AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v, doc_id) AS i,
    NTILE(10) OVER (ORDER BY v, doc_id) AS bucket
  FROM d
),
per AS (
  SELECT bucket, COUNT(*)::BIGINT AS n, SUM(v) AS mass,
    SUM(i * v) AS iwx
  FROM ranked GROUP BY 1
)
SELECT bucket::BIGINT AS bucket, n,
  ROUND(mass / SUM(mass) OVER (), 6) AS value_share,
  ROUND(SUM(mass) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
      / SUM(mass) OVER (), 6) AS cum_value_share,
  ROUND(2.0 * SUM(iwx) OVER ()
        / (SUM(n) OVER ()::DOUBLE * SUM(mass) OVER ())
      - (SUM(n) OVER ()::DOUBLE + 1) / SUM(n) OVER ()::DOUBLE, 6) AS gini
FROM per ORDER BY bucket
""",
)
def q_token_mass_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve + Gini of token mass across documents
    (operators/profile.py lorenz_gini): how concentrated is the corpus
    in its longest documents? — the inequality profile that decides
    whether doc-count or token-count quotas budget a pipeline
    (token_budget_fill's unit question). Decile Lorenz ordinates + the
    rank-weighted Gini identity off ONE deterministic sort by
    (token_count, doc_id); windows after the bucketing run over 10
    rows. The total sort is the documented diagnostic-only cost; the
    100 TB path pre-buckets via histogram_quantiles (module note)."""
    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.operators.profile import lorenz_gini

    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda s: s != "",
            )
        ).alias("n_tokens"),
    )
    return lorenz_gini(counted, "n_tokens", "doc_id", n_buckets=10)


_PCA_PROJECTION_TAIL = """,
proj AS (
  SELECT c.vec_id, ROUND(SUM(c.cv * v.v), 8) AS s
  FROM c JOIN v{T} v USING (d) GROUP BY 1
)
SELECT em.label::BIGINT AS label, COUNT(*)::BIGINT AS n,
  ROUND(AVG(p.s), 6) AS avg_proj,
  ROUND(MIN(p.s), 6) AS min_proj,
  ROUND(MAX(p.s), 6) AS max_proj
FROM proj p JOIN embeddings em USING (vec_id)
GROUP BY 1 ORDER BY 1
"""


@query(
    "embedding_pca_label_separation",
    _pca_oracle(dim=64, n_iter=6, tail=_PCA_PROJECTION_TAIL),
)
def q_embedding_pca_label_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label statistics of the top-principal-component projection
    (operators/pca.py pca_fit + pca_project_expr): do the labels
    separate along the corpus's dominant embedding axis? — the 1-D
    cluster-separation readout that says whether the top PC is a class
    signal or a nuisance direction to whiten away. The fitted model
    re-enters the plan as codegen LITERALS (the centroid pattern), so
    projection adds zero joins; one grouped aggregate on (label). The
    unrolled oracle replays the fit and projects in join form."""
    from fireball_data_processing_spark.operators.pca import (
        pca_fit,
        pca_project_expr,
    )

    e = load_table(spark, sf_dir, "embeddings")
    mu, v, _nrm, _tot = pca_fit(e, "embedding", dim=64, n_iter=6)
    proj = pca_project_expr("embedding", mu, v)
    return (
        e.select(F.col("label").cast("bigint").alias("label"),
                 proj.alias("__s"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("__s"), 6).alias("avg_proj"),
            F.round(F.min("__s"), 6).alias("min_proj"),
            F.round(F.max("__s"), 6).alias("max_proj"),
        )
        .orderBy("label")
    )


@query(
    "capture_recapture_estimate",
    """
WITH marked AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    AS h
  FROM documents WHERE source = 'src0'
),
recap AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    AS h
  FROM documents WHERE source = 'src1'
),
stats AS (
  SELECT
    (SELECT COUNT(*) FROM marked)::BIGINT AS n_a,
    (SELECT COUNT(*) FROM recap)::BIGINT AS n_b,
    (SELECT COUNT(*) FROM marked JOIN recap USING (h))::BIGINT AS n_overlap
)
SELECT n_a, n_b, n_overlap,
  (n_a + n_b - n_overlap)::BIGINT AS observed_union,
  ROUND((n_a + 1.0) * (n_b + 1.0) / (n_overlap + 1.0) - 1.0, 6)
    AS chapman_estimate
FROM stats
""",
)
def q_capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of the TRUE distinct-document
    population from two overlapping sources (Chapman's bias-corrected
    Lincoln-Petersen): treat src0's distinct content hashes as the
    marked sample and src1's as the recapture — the overlap rate
    estimates how much of the underlying document universe the corpus
    has actually collected, the acquisition-planning complement to
    vocab_richness_estimate (unseen vocabulary) and
    corpus_overlap_matrix (pairwise redundancy). Two distinct-hash
    aggregates + one digest-keyed join; never raw text on the wire."""
    from fireball_data_processing_spark.functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(normalize_text(F.col("text"))).alias("h")
    marked = d.filter(F.col("source") == "src0").select(h).distinct()
    recap = d.filter(F.col("source") == "src1").select(h).distinct()
    na = marked.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = recap.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    m = (
        marked.join(recap, "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(m))
        .select(
            "n_a",
            "n_b",
            "n_overlap",
            (F.col("n_a") + F.col("n_b") - F.col("n_overlap"))
            .cast("bigint")
            .alias("observed_union"),
            F.round(
                (F.col("n_a") + 1.0)
                * (F.col("n_b") + 1.0)
                / (F.col("n_overlap") + 1.0)
                - 1.0,
                6,
            ).alias("chapman_estimate"),
        )
    )


@query(
    "trimmed_value_stats",
    """
WITH q AS (
  SELECT event_type,
    ROUND(quantile_cont(value::DOUBLE, 0.1), 8) AS q10,
    ROUND(quantile_cont(value::DOUBLE, 0.9), 8) AS q90
  FROM events GROUP BY 1
)
SELECT e.event_type, COUNT(*)::BIGINT AS n,
  ROUND(AVG(e.value::DOUBLE), 6) AS mean,
  ROUND(AVG(e.value::DOUBLE)
    FILTER (WHERE e.value::DOUBLE >= q.q10 AND e.value::DOUBLE <= q.q90), 6)
    AS trimmed_mean,
  ROUND(AVG(LEAST(GREATEST(e.value::DOUBLE, q.q10), q.q90)), 6)
    AS winsorized_mean,
  ROUND(q.q10, 6) AS q10, ROUND(q.q90, 6) AS q90
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type, q.q10, q.q90
ORDER BY e.event_type
""",
)
def q_trimmed_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed and winsorized means of event value per
    type — the robust-location pair that complements the MAD outlier
    profile (mad_outlier_profile flags rows; trimming/winsorizing
    reports what the location IS once tails are controlled, the
    standard pre-aggregation for reward/value columns with heavy
    tails). Two grouped aggregates: one exact-percentile pass (at
    100 TB: histogram_quantiles sketch cuts, the house swap), then the
    broadcast quantile frame re-enters the scan for the conditional
    and clamped averages."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    q = ev.groupBy("event_type").agg(
        F.round(F.percentile(v, F.lit(0.1)), 8).alias("q10"),
        F.round(F.percentile(v, F.lit(0.9)), 8).alias("q90"),
    )
    joined = ev.join(F.broadcast(q), "event_type")
    inside = (v >= F.col("q10")) & (v <= F.col("q90"))
    return (
        joined.groupBy("event_type", "q10", "q90")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg(v), 6).alias("mean"),
            F.round(F.avg(F.when(inside, v)), 6).alias("trimmed_mean"),
            F.round(
                F.avg(F.least(F.greatest(v, F.col("q10")), F.col("q90"))), 6
            ).alias("winsorized_mean"),
        )
        .select(
            "event_type",
            "n",
            "mean",
            "trimmed_mean",
            "winsorized_mean",
            F.round(F.col("q10"), 6).alias("q10"),
            F.round(F.col("q90"), 6).alias("q90"),
        )
        .orderBy("event_type")
    )


@query(
    "km_conversion_curve",
    _SIGNUP_PURCHASE_CTE + """,
subj AS (
  SELECT s.user_id,
    CAST(FLOOR((COALESCE(p.p_ts, tmax.t) - s.s_ts)
               / 86400000000000.0) AS BIGINT) AS duration,
    p.p_ts IS NOT NULL AS event
  FROM s LEFT JOIN p USING (user_id), tmax
),
per AS (
  SELECT duration,
    SUM(CASE WHEN event THEN 1 ELSE 0 END)::BIGINT AS n_events,
    SUM(CASE WHEN event THEN 0 ELSE 1 END)::BIGINT AS n_censored
  FROM subj GROUP BY 1
),
risked AS (
  SELECT duration,
    SUM(n_events + n_censored) OVER (ORDER BY duration
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS n_risk,
    n_events, n_censored
  FROM per
),
lt AS (
  SELECT duration, n_risk, n_events, n_censored,
    ROUND(CASE WHEN n_events <= 0 THEN 0.0
               WHEN n_events = n_risk THEN -1000000000.0
               ELSE LN(1.0 - n_events::DOUBLE / n_risk::DOUBLE) END, 8) AS l
  FROM risked
)
SELECT duration, n_risk, n_events, n_censored,
  ROUND(EXP(SUM(l) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 6)
    AS survival
FROM lt ORDER BY duration
""",
)
def q_km_conversion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier signup-to-purchase curve with right censoring
    (operators/survival.py km_curve): P(user has NOT yet purchased by
    day t after their first signup), with users who never purchase
    censored at the corpus horizon — the bias both naive conversion
    cuts make (dropping pending users under-counts; calling them
    non-converters over-counts), handled by the product-limit risk-set
    arithmetic. One per-user aggregate pair (first signup, first
    purchase after it); risk sets and the cumulative product are
    windows over the day-grain frame (bounded by the observation
    window). The d = n boundary takes a -1e9 log sentinel on both
    engines (ln(0) is NULL in Spark, -inf in DuckDB)."""
    from fireball_data_processing_spark.operators.survival import km_curve

    return km_curve(_conversion_subjects(spark, sf_dir, []))


def _conversion_subjects(
    spark: SparkSession, sf_dir: str, cols: list[Column]
) -> DataFrame:
    """One survival subject per signed-up user: ``cols``, then
    ``duration`` — whole days from the first signup to the first purchase
    after it, or to the corpus horizon when none came — and ``event``,
    whether a purchase came (a censored subject otherwise)."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    tmax = ev.agg(F.max("ts").alias("t"))
    return (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            *cols,
            F.floor(
                (F.coalesce(F.col("p_ts"), F.col("t")) - F.col("s_ts"))
                / F.lit(86400.0 * 1e9)
            )
            .cast("bigint")
            .alias("duration"),
            F.col("p_ts").isNotNull().alias("event"),
        )
    )


@query(
    "jackknife_quality_se",
    _TTR_DOCS_CTE
    + """,
shards AS (
  SELECT CAST(FLOOR(('0x' || substr(md5('jk' || CAST(doc_id AS VARCHAR)),
      1, 8))::BIGINT / 4294967296.0 * 32) AS BIGINT) AS g,
    ROUND(SUM(x), 8) AS s, COUNT(*)::BIGINT AS n
  FROM d GROUP BY 1
),
tot AS (SELECT SUM(s) AS S, SUM(n) AS N, COUNT(*)::DOUBLE AS G FROM shards),
loo AS (
  SELECT ROUND((t.S - s.s) / (t.N - s.n), 8) AS theta, t.S, t.N, t.G
  FROM shards s, tot t
),
tb AS (SELECT ROUND(AVG(theta), 8) AS tbar FROM loo)
SELECT t.N::BIGINT AS n, t.G::BIGINT AS n_groups,
  ROUND(t.S / t.N, 6) AS mean,
  ROUND(SQRT((t.G - 1) / t.G
        * SUM((l.theta - tb.tbar) * (l.theta - tb.tbar))), 6)
    AS jackknife_se
FROM loo l, tot t, tb
GROUP BY t.N, t.G, t.S, tb.tbar
""",
)
def q_jackknife_quality_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-shard jackknife standard error of the mean
    type-token-ratio quality score (operators/bootstrap.py
    jackknife_se): 32 deterministic hash shards, leave-one-out means
    from per-shard sufficient statistics — the one-pass, draw-free
    error bar next to bootstrap_mean_ci, and the block form that stays
    honest under within-shard dependence. One grouped aggregate to the
    32-row shard frame; everything after is window arithmetic on it."""
    from fireball_data_processing_spark.operators.bootstrap import jackknife_se

    d = load_table(spark, sf_dir, "documents")
    return jackknife_se(_ttr_xy(d), "x", key=F.col("doc_id"), n_groups=32,
                        salt="jk")


_CHANNELS = ("click", "error", "signup", "view")


def _attribution_oracle() -> str:
    """Unrolled absorbing-chain oracle replaying operators/markov.py
    removal_attribution: the raw (un-renormalized) transition matrix,
    the empirical start mix, and one 12-step absorption fixed
    point per scenario (full chain + one per removed channel), all with
    8-dp per-iterate rounding."""
    parts = [
        _MARKOV_PAIRS_CTE + """,
m AS (
  SELECT src, dst,
    ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY src), 8) AS p
  FROM pairs
),
firsts AS (
  SELECT state, COUNT(*)::DOUBLE AS c
  FROM (SELECT user_id, arg_min(event_type, event_id) AS state
        FROM events GROUP BY 1) z
  GROUP BY 1
),
start AS (
  SELECT state, ROUND(c / SUM(c) OVER (), 8) AS pi0 FROM firsts
)"""
    ]
    scenarios = [("full", None)] + [(c, c) for c in _CHANNELS]
    for tag, removed in scenarios:
        cond = "src <> 'purchase'"
        if removed is not None:
            cond += f" AND src <> '{removed}' AND dst <> '{removed}'"
        parts.append(
            f""",
m_{tag} AS (SELECT * FROM m WHERE {cond}),
st_{tag} AS (SELECT DISTINCT src AS state FROM m_{tag}),
d_{tag} AS (SELECT src AS state, p AS d FROM m_{tag} WHERE dst = 'purchase'),
a_{tag}_1 AS (
  SELECT s.state, ROUND(COALESCE(d.d, 0), 8) AS a
  FROM st_{tag} s LEFT JOIN d_{tag} d USING (state)
)"""
        )
        for k in range(2, 12 + 1):
            parts.append(
                f""",
f_{tag}_{k} AS (
  SELECT t.src AS state, ROUND(SUM(t.p * a.a), 8) AS f
  FROM m_{tag} t JOIN a_{tag}_{k - 1} a ON a.state = t.dst
  WHERE t.dst <> 'purchase' GROUP BY 1
),
a_{tag}_{k} AS (
  SELECT s.state, ROUND(COALESCE(d.d, 0) + COALESCE(f.f, 0), 8) AS a
  FROM st_{tag} s LEFT JOIN d_{tag} d USING (state)
  LEFT JOIN f_{tag}_{k} f USING (state)
)"""
            )
        parts.append(
            f""",
conv_{tag} AS (
  SELECT ROUND(SUM(v), 8) AS conv FROM (
    SELECT st.pi0 * COALESCE(a.a, 0) AS v
    FROM start st LEFT JOIN a_{tag}_12 a USING (state)
    WHERE st.state <> 'purchase'
    UNION ALL
    SELECT pi0 AS v FROM start WHERE state = 'purchase'
  ) z
)"""
        )
    selects = []
    for c in _CHANNELS:
        selects.append(
            f"""
SELECT '{c}' AS state,
  ROUND(COALESCE((SELECT pi0 FROM start WHERE state = '{c}'), 0), 6)
    AS start_share,
  ROUND((SELECT conv FROM conv_full), 6) AS conv_full,
  ROUND((SELECT conv FROM conv_{c}), 6) AS conv_removed,
  ROUND(1.0 - (SELECT conv FROM conv_{c})
            / (SELECT conv FROM conv_full), 6) AS removal_effect"""
        )
    parts.append("\nUNION ALL".join(selects) + "\nORDER BY state\n")
    return "".join(parts)


@query("markov_removal_attribution", _attribution_oracle())
def q_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (operators/markov.py
    removal_attribution, Anderl et al. 2014): which event channel is
    load-bearing for conversion? Each user stream becomes a first-order
    chain absorbed at the first purchase; a channel's credit is the
    relative conversion probability LOST when every transition through
    it becomes lost mass — the data-driven alternative to last-touch
    credit, and a genuinely causal-flavored readout the funnel can't
    give. The data-proportional work (lead window + pair count + first-
    event mix) is shared across all five scenarios; each scenario's
    12-step absorption fixed point runs on the persisted
    |states|^2-row matrix. The unrolled oracle replays every scenario."""
    from fireball_data_processing_spark.operators.markov import (
        removal_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return removal_attribution(
        ev.select("user_id", "event_id", "event_type"),
        key_col="user_id",
        order_col="event_id",
        state_col="event_type",
        conv_state="purchase",
        n_iter=12,
    )


def _segment_fdr_oracle(n_segments: int = 16, alpha: float = 0.1) -> str:
    from fireball_data_processing_spark.operators.hyptest import normal_sf_sql

    sf = normal_sf_sql("ABS(zz)")
    return f"""
WITH per AS (
  SELECT user_id % {n_segments} AS segment, COUNT(*)::BIGINT AS n,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
      AS conv
  FROM events GROUP BY 1
),
s AS (
  SELECT segment, n, conv,
    ROUND(conv::DOUBLE / n, 8) AS rate,
    ROUND(SUM(conv) OVER ()::DOUBLE / SUM(n) OVER (), 8) AS p0
  FROM per
),
z AS (
  SELECT *, ROUND((rate - p0) / SQRT(p0 * (1 - p0) / n), 8) AS zz FROM s
),
p AS (SELECT *, ROUND(2.0 * {sf}, 8) AS pv FROM z),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pv, segment) AS bh_rank FROM p
),
k AS (
  SELECT MAX(CASE WHEN pv <= bh_rank::DOUBLE
                        / (SELECT COUNT(*) FROM r) * {alpha}
             THEN bh_rank ELSE 0 END) AS kmax
  FROM r
)
SELECT segment, n, conv, ROUND(rate, 6) AS rate, ROUND(zz, 6) AS z,
  ROUND(pv, 6) AS p_value, bh_rank::BIGINT AS bh_rank,
  bh_rank <= k.kmax AS significant
FROM r, k ORDER BY segment
"""


@query("segment_shift_fdr", _segment_fdr_oracle(n_segments=16, alpha=0.1))
def q_segment_shift_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FDR-controlled segment scan (operators/hyptest.py normal_sf_expr
    + bh_significant): two-proportion z-test of every user segment's
    purchase rate against the pooled rate, p-values from the
    Abramowitz-Stegun normal-tail polynomial (identical rational
    arithmetic on both engines — no erf primitive needed), then
    Benjamini-Hochberg step-up control at FDR 0.1 — the multiple-
    testing discipline a 16-segment (or 16,000-segment) sweep needs
    before anyone acts on "segment 7 shifted!". One grouped aggregate
    over the data; every window runs over the segment-grain frame."""
    from fireball_data_processing_spark.operators.hyptest import (
        bh_significant,
        normal_sf_expr,
    )

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy((F.col("user_id") % 16).alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    w = Window.partitionBy()
    s = per.select(
        "segment",
        "n",
        "conv",
        F.round(F.col("conv").cast("double") / F.col("n"), 8).alias("rate"),
        F.round(
            F.sum("conv").over(w).cast("double") / F.sum("n").over(w), 8
        ).alias("p0"),
    )
    zz = F.round(
        (F.col("rate") - F.col("p0"))
        / F.sqrt(F.col("p0") * (1 - F.col("p0")) / F.col("n")),
        8,
    )
    scored = s.withColumn("zz", zz).withColumn(
        "p_value", F.round(F.lit(2.0) * normal_sf_expr(F.abs(F.col("zz"))), 8)
    )
    out = bh_significant(scored, "p_value", "segment", alpha=0.1)
    return out.select(
        "segment",
        "n",
        "conv",
        F.round(F.col("rate"), 6).alias("rate"),
        F.round(F.col("zz"), 6).alias("z"),
        F.round(F.col("p_value"), 6).alias("p_value"),
        F.col("bh_rank").cast("bigint").alias("bh_rank"),
        "significant",
    ).orderBy("segment")


def _raking_oracle(
    row_targets: dict[str, float],
    col_targets: dict[str, float],
    n_iter: int = 8,
) -> str:
    rt = ", ".join(f"('{k}', {v})" for k, v in sorted(row_targets.items()))
    ct = ", ".join(f"('{k}', {v})" for k, v in sorted(col_targets.items()))
    parts = [
        f"""
WITH counts AS MATERIALIZED (
  SELECT source AS row_cat, lang AS col_cat, COUNT(*)::DOUBLE AS n
  FROM documents GROUP BY 1, 2
),
rt(row_cat, t) AS (VALUES {rt}),
ct(col_cat, t) AS (VALUES {ct}),
w0 AS MATERIALIZED (SELECT row_cat, col_cat, n, 1.0 AS w FROM counts)"""
    ]
    prev = "w0"
    for i in range(1, n_iter + 1):
        for margin, tgt in (("row_cat", "rt"), ("col_cat", "ct")):
            tag = f"{'r' if margin == 'row_cat' else 'c'}{i}"
            parts.append(
                f""",
m{tag} AS MATERIALIZED (
  SELECT {margin}, ROUND(SUM(n * w), 8) AS mm FROM {prev} GROUP BY 1
),
t{tag} AS MATERIALIZED (SELECT ROUND(SUM(n * w), 8) AS tot FROM {prev}),
w{tag} AS MATERIALIZED (
  SELECT c.row_cat, c.col_cat, c.n,
    ROUND(c.w * COALESCE(g.t * t{tag}.tot / m.mm, 1.0), 8) AS w
  FROM {prev} c
  JOIN m{tag} m USING ({margin})
  LEFT JOIN {tgt} g USING ({margin})
  , t{tag}
)"""
            )
            prev = f"w{tag}"
    parts.append(
        f""",
ft AS (SELECT ROUND(SUM(n * w), 8) AS tot FROM {prev})
SELECT row_cat, col_cat, n::BIGINT AS n, ROUND(w, 6) AS weight,
  ROUND(n * w / ft.tot, 6) AS weighted_share
FROM {prev}, ft
ORDER BY row_cat, col_cat
"""
    )
    return "".join(parts)


_RAKE_COL_TARGETS = {
    "en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15,
}
_RAKE_ROW_TARGETS = {f"src{i}": 0.05 for i in range(20)}


@query(
    "raked_mix_weights",
    _raking_oracle(_RAKE_ROW_TARGETS, _RAKE_COL_TARGETS, n_iter=8),
)
def q_raked_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (operators/raking.py, Deming &
    Stephan 1940): per-(source, lang) weights that make the corpus
    match BOTH a uniform source mix and a 40%-English language mix
    simultaneously — the reweighting form of mixture control
    (temperature_mixture_plan resamples; raking keeps every row and
    emits weights that compose with dedup cluster sizes and freshness
    decay). One contingency aggregate over the data; 8 IPF iterations
    (row scale, column scale) on the localCheckpoint'ed 100-cell frame,
    each factor 8-dp rounded for exact oracle replay."""
    from fireball_data_processing_spark.operators.raking import raking_weights

    d = load_table(spark, sf_dir, "documents")
    return raking_weights(
        d,
        row_col="source",
        col_col="lang",
        row_targets=_RAKE_ROW_TARGETS,
        col_targets=_RAKE_COL_TARGETS,
        n_iter=8,
    )


@query(
    "token_diversity_profile",
    """
WITH tok AS (
  SELECT lang,
    unnest(list_filter(string_split(trim(regexp_replace(lower(text),
      '\\s+', ' ', 'g')), ' '), s -> s <> '')) AS t
  FROM documents
),
c AS (SELECT lang, t, COUNT(*)::DOUBLE AS n FROM tok GROUP BY 1, 2),
tot AS (SELECT lang, SUM(n) AS tot FROM c GROUP BY 1),
s AS (
  SELECT c.lang,
    CAST(tot.tot AS BIGINT) AS n_tokens,
    COUNT(*)::BIGINT AS richness,
    ROUND(-SUM((c.n / tot.tot) * log2(c.n / tot.tot)), 6) AS shannon_bits,
    ROUND(SUM((c.n / tot.tot) * (c.n / tot.tot)), 8) AS simpson
  FROM c JOIN tot USING (lang)
  GROUP BY c.lang, tot.tot
)
SELECT lang, n_tokens, richness, shannon_bits,
  ROUND(POWER(2.0, shannon_bits), 6) AS hill1,
  ROUND(1.0 / simpson, 6) AS hill2,
  ROUND(POWER(2.0, shannon_bits) / richness, 6) AS evenness
FROM s ORDER BY lang
""",
)
def q_token_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-number diversity profile per language: richness (Hill q=0),
    exp-Shannon effective vocabulary (q=1, in types), inverse-Simpson
    (q=2, weights common types hardest), and evenness hill1/richness —
    the ecology-standard spectrum that tells apart "many types, all
    rare" from "few types dominating", which raw richness
    (vocab_richness_estimate) alone cannot. Two grouped aggregates
    ((lang, token) counts, then per-lang sums with the broadcast
    totals); everything partial-combines."""
    from fireball_data_processing_spark.functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda s: s != "",
            )
        ).alias("t"),
    )
    c = toks.groupBy("lang", "t").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = c.groupBy("lang").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    s = (
        c.join(F.broadcast(tot), "lang")
        .groupBy("lang", "tot")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("richness"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("shannon_bits"),
            F.round(F.sum(p * p), 8).alias("simpson"),
        )
    )
    return s.select(
        "lang",
        F.col("tot").cast("bigint").alias("n_tokens"),
        "richness",
        "shannon_bits",
        F.round(F.pow(F.lit(2.0), F.col("shannon_bits")), 6).alias("hill1"),
        F.round(F.lit(1.0) / F.col("simpson"), 6).alias("hill2"),
        F.round(
            F.pow(F.lit(2.0), F.col("shannon_bits"))
            / F.col("richness").cast("double"),
            6,
        ).alias("evenness"),
    ).orderBy("lang")


def _daily_purchase_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(day, share)``: the purchase share of each day's events, 8 dp —
    the series the CUSUM and EWMA charts watch."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("ts") / F.lit(86400.0 * 1e9)).cast("bigint").alias("day")
    ).agg(
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("share")
    )


@query(
    "cusum_daily_conversion",
    _DAILY_SHARE_CTE + """,
tgt AS (SELECT ROUND(AVG(share), 8) AS mu FROM daily),
c AS (
  SELECT day, share,
    ROUND(SUM(ROUND(share - (tgt.mu + 0.005), 8)) OVER (ORDER BY day
      ROWS UNBOUNDED PRECEDING), 8) AS cc
  FROM daily, tgt
)
SELECT day AS time, ROUND(share, 6) AS x,
  ROUND(ROUND(cc - LEAST(0.0, MIN(cc) OVER (ORDER BY day
    ROWS UNBOUNDED PRECEDING)), 8), 6) AS cusum,
  ROUND(cc - LEAST(0.0, MIN(cc) OVER (ORDER BY day
    ROWS UNBOUNDED PRECEDING)), 8) > 0.05 AS alarm
FROM c ORDER BY day
""",
)
def q_cusum_daily_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM over the daily purchase share
    (operators/drift.py cusum_alarm): accumulates small persistent
    upward shifts against the corpus-mean baseline (+0.005 allowance,
    0.05 decision threshold) — the change-point monitor that fires on
    drifts a per-day outlier rule never trips. The clamped recursion
    S_t = max(0, S_{t-1} + d_t) has the closed form cumsum minus
    clamped running-min, so the whole chart is TWO windows over the
    day-grain series (bounded by the observation window); the baseline
    is one rounded scalar (bounded collect)."""
    from fireball_data_processing_spark.operators.drift import cusum_alarm

    daily = _daily_purchase_share(spark, sf_dir)
    mu = daily.agg(F.round(F.avg("share"), 8).alias("mu")).first()["mu"]
    return cusum_alarm(
        daily,
        time_col="day",
        value_col="share",
        target=mu,
        allowance=0.005,
        threshold=0.05,
    )


@query(
    "ewma_daily_conversion",
    _DAILY_SHARE_CTE + """,
tgt AS (
  SELECT ROUND(AVG(share), 8) AS mu,
    ROUND(COALESCE(stddev_pop(share), 0), 8) AS sig
  FROM daily
),
r AS (
  SELECT day, share,
    CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS t
  FROM daily
),
a AS (
  SELECT day, share, t, ROUND(share * POWER(0.8, -t), 8) AS sa FROM r
),
c AS (
  SELECT day, share, t,
    ROUND(SUM(sa) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 8) AS cum
  FROM a
)
SELECT day AS time, ROUND(share, 6) AS x,
  ROUND(ROUND(POWER(0.8, t) * (tgt.mu + 0.2 * cum), 8), 6) AS ewma,
  ROUND(ROUND(3 * tgt.sig * SQRT(0.2 / 1.8 * (1 - POWER(0.8, 2 * t))), 8),
        6) AS band,
  ABS(ROUND(POWER(0.8, t) * (tgt.mu + 0.2 * cum), 8) - tgt.mu)
    > ROUND(3 * tgt.sig * SQRT(0.2 / 1.8 * (1 - POWER(0.8, 2 * t))), 8)
    AS alarm
FROM c, tgt ORDER BY day
""",
)
def q_ewma_daily_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the daily purchase share
    (operators/drift.py ewma_chart, Roberts 1959): geometric-memory
    small-shift monitoring with the exact time-varying 3-sigma band —
    CUSUM's complement (cusum_daily_conversion hard-resets; EWMA
    forgets geometrically). The recursion runs as ONE rank + ONE
    cumulative sum via the (1-lam)^(-t) rescaling (bounded-window form,
    documented); baseline mu/sigma are two rounded scalars (bounded
    collect)."""
    from fireball_data_processing_spark.operators.drift import ewma_chart

    daily = _daily_purchase_share(spark, sf_dir)
    base = daily.agg(
        F.round(F.avg("share"), 8).alias("mu"),
        F.round(F.coalesce(F.stddev_pop("share"), F.lit(0.0)), 8).alias(
            "sig"
        ),
    ).first()
    return ewma_chart(
        daily,
        time_col="day",
        value_col="share",
        mu0=base["mu"],
        sigma0=base["sig"],
        lam=0.2,
        width=3.0,
    )


def _daily_type_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(event_type, day, v)``: each type's daily event count as doubles —
    the series the trend and autocorrelation queries fit."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("ts") / F.lit(86400.0 * 1e9))
        .cast("bigint")
        .cast("double")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))


@query(
    "theil_sen_daily_trend",
    """
WITH daily AS (
  SELECT event_type,
    CAST(FLOOR(epoch_ns(ts) / 86400000000000.0) AS BIGINT)::DOUBLE AS t,
    COUNT(*)::DOUBLE AS v
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, ROUND((b.v - a.v) / (b.t - a.t), 8) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.t < b.t
),
ms AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_pairs,
    ROUND(quantile_cont(s, 0.5), 8) AS slope
  FROM pairs GROUP BY 1
),
res AS (
  SELECT d.event_type, ms.n_pairs, ms.slope,
    ROUND(d.v - ms.slope * d.t, 8) AS r
  FROM daily d JOIN ms USING (event_type)
)
SELECT event_type, COUNT(*)::BIGINT AS n_points, n_pairs,
  ROUND(slope, 6) AS slope,
  ROUND(quantile_cont(r, 0.5), 6) AS intercept
FROM res GROUP BY event_type, n_pairs, slope
ORDER BY event_type
""",
)
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume per type
    (operators/drift.py theil_sen): median of all pairwise day-to-day
    slopes (29% breakdown point — one crazy day can't flip the sign the
    way it flips OLS), intercept = median residual. The pairwise join
    is quadratic in the TIME GRAIN only (30 days -> 435 pairs per
    type), group-keyed; medians are exact percentiles over the
    pair/point frames."""
    from fireball_data_processing_spark.operators.drift import theil_sen

    daily = _daily_type_volume(spark, sf_dir)
    return theil_sen(
        daily, time_col="day", value_col="v", group_col="event_type"
    )


_ACF_ORACLE = """
WITH daily AS (
  SELECT event_type AS g,
    CAST(FLOOR(epoch_ns(ts) / 86400000000000.0) AS BIGINT)::DOUBLE AS t,
    COUNT(*)::DOUBLE AS v
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT g, COUNT(*)::DOUBLE AS n, ROUND(AVG(v), 8) AS mu
  FROM daily GROUP BY 1
),
cent AS (
  SELECT d.g, d.t, st.n, d.v - st.mu AS e FROM daily d JOIN st USING (g)
),
den AS (SELECT g, ROUND(SUM(e * e), 8) AS den FROM cent GROUP BY 1),
nums AS (
  SELECT a.g, CAST(b.t - a.t AS BIGINT) AS lag, MAX(a.n) AS n,
    ROUND(SUM(a.e * b.e), 8) AS num
  FROM cent a JOIN cent b
    ON a.g = b.g AND b.t - a.t >= 1 AND b.t - a.t <= 7
  GROUP BY 1, 2
),
rho AS (
  SELECT nums.g, lag, n,
    ROUND(CASE WHEN den.den > 0 THEN num / den.den END, 8) AS rho8
  FROM nums JOIN den ON nums.g = den.g
),
q AS (
  SELECT g, lag, n, rho8,
    SUM(ROUND(rho8 * rho8 / (n - lag), 8)) OVER (
      PARTITION BY g ORDER BY lag
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qs
  FROM rho
)
SELECT g AS event_type, lag, n::BIGINT AS n_points,
  ROUND(rho8, 6) AS rho, ROUND(n * (n + 2.0) * qs, 6) AS q_stat
FROM q ORDER BY event_type, lag
"""


@query("acf_daily_events", _ACF_ORACLE)
def q_acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily event volume per type at lags
    1..7 with the cumulative Ljung-Box Q (operators/drift.py
    acf_profile): is daily traffic white noise, weekly-seasonal (a
    lag-7 spike), or momentum-driven (slow lag-1 decay)? The
    time-series diagnostic the trend/change-point monitors assume;
    everything after the one daily aggregate is day-grain-bounded (one
    group-keyed self-join covers all 7 lags, the Ljung-Box cumulation
    rides a lag-grain window)."""
    from fireball_data_processing_spark.operators.drift import acf_profile

    daily = _daily_type_volume(spark, sf_dir)
    return acf_profile(
        daily, "day", "v", group_col="event_type", max_lag=7
    )


@query(
    "isotonic_quality_calibration",
    _TTR_DOCS_CTE
    + """,
b AS (
  SELECT CAST(NTILE(20) OVER (ORDER BY x, doc_id) AS BIGINT) AS bucket,
    x, y
  FROM d
),
per AS (
  SELECT bucket, COUNT(*)::DOUBLE AS n, ROUND(AVG(x), 6) AS avg_x,
    ROUND(SUM(y), 8) AS sy
  FROM b GROUP BY 1
),
pref AS (
  SELECT bucket, n, avg_x, sy,
    SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cn,
    SUM(sy) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cs
  FROM per
),
iv AS (
  SELECT l.bucket AS i, h.bucket AS j,
    ROUND((h.cs - (l.cs - l.sy)) / (h.cn - (l.cn - l.n)), 8) AS m
  FROM pref l JOIN pref h ON l.bucket <= h.bucket
),
tri AS (
  SELECT t.bucket AS t, iv.i, iv.m
  FROM iv JOIN pref t ON iv.i <= t.bucket AND t.bucket <= iv.j
),
inn AS (SELECT t, i, ROUND(MIN(m), 8) AS mm FROM tri GROUP BY 1, 2),
iso AS (SELECT t, ROUND(MAX(mm), 8) AS iso FROM inn GROUP BY 1)
SELECT p.bucket, CAST(p.n AS BIGINT) AS n, p.avg_x,
  ROUND(p.sy / p.n, 6) AS raw_rate, ROUND(iso.iso, 6) AS iso_rate
FROM per p JOIN iso ON iso.t = p.bucket
ORDER BY p.bucket
""",
)
def q_isotonic_quality_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic calibration of the TTR quality score against the
    is-English label (operators/calibration.py isotonic_bucket_fit,
    Ayer et al. 1955): the non-parametric partner of
    logistic_quality_calibration — no sigmoid assumption, just
    monotonicity, computed in the closed minimax form
    max_{i<=t} min_{j>=t} mean(i..j) over 20 equal-mass score buckets.
    No iterative pooling: interval means come from prefix sums of the
    bucket frame, the max-min from the O(buckets^3) triple frame of
    pure aggregate rows. iso_rate is non-decreasing by construction
    where raw_rate can zig-zag."""
    from fireball_data_processing_spark.operators.calibration import (
        isotonic_bucket_fit,
    )

    d = load_table(spark, sf_dir, "documents")
    return isotonic_bucket_fit(
        _ttr_xy(d), "x", "y", key_col="doc_id", n_buckets=20
    )


@query(
    "benford_value_audit",
    """
WITH pos AS (SELECT value::DOUBLE AS v FROM events WHERE value > 0),
digits AS (
  SELECT CAST(FLOOR(v / POWER(10, FLOOR(LOG10(v)))) AS BIGINT) AS digit
  FROM pos
),
obs AS (SELECT digit, COUNT(*)::DOUBLE AS o FROM digits GROUP BY 1),
full_ AS (
  SELECT d.digit,
    COALESCE(obs.o, 0.0) AS o,
    ROUND(LOG10(1.0 + 1.0 / d.digit), 8) AS benford_share
  FROM (SELECT UNNEST(generate_series(1, 9)) AS digit) d
  LEFT JOIN obs USING (digit)
),
tot AS (SELECT SUM(o) AS n FROM full_)
SELECT f.digit, CAST(f.o AS BIGINT) AS n,
  ROUND(f.o / tot.n, 6) AS observed_share,
  ROUND(f.benford_share, 6) AS benford_share,
  ROUND(SUM((f.o - tot.n * f.benford_share)
            * (f.o - tot.n * f.benford_share)
            / (tot.n * f.benford_share)) OVER (), 6) AS chi2
FROM full_ f, tot
ORDER BY f.digit
""",
)
def q_benford_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of the event value column:
    observed vs log10(1 + 1/d) digit shares plus the chi-squared
    goodness-of-fit statistic — the classic "is this numeric column
    organic or fabricated/truncated?" data-quality screen (synthetic
    uniform-ish values should FAIL it loudly, which is itself the
    audit's calibration check). One digit aggregate over the scan; the
    9-digit frame comes off a broadcast literal so absent digits still
    contribute their expected mass; windows run over 9 rows."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    digits = ev.filter(v > 0).select(
        F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v))))
        .cast("bigint")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    full = (
        spark.range(1, 10)
        .select(F.col("id").cast("bigint").alias("digit"))
        .join(F.broadcast(obs), "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("o"), F.lit(0.0)).alias("o"),
            F.round(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 8
            ).alias("benford_share"),
        )
    )
    w = Window.partitionBy()
    n = F.sum("o").over(w)
    e = n * F.col("benford_share")
    return full.select(
        "digit",
        F.col("o").cast("bigint").alias("n"),
        F.round(F.col("o") / n, 6).alias("observed_share"),
        F.round(F.col("benford_share"), 6).alias("benford_share"),
        F.round(
            F.sum((F.col("o") - e) * (F.col("o") - e) / e).over(w), 6
        ).alias("chi2"),
    ).orderBy("digit")


@query(
    "logrank_conversion_test",
    _SIGNUP_PURCHASE_CTE + """,
subj AS (
  SELECT CAST(s.user_id % 2 AS VARCHAR) AS g,
    CAST(FLOOR((COALESCE(p.p_ts, tmax.t) - s.s_ts)
               / 86400000000000.0) AS BIGINT) AS t,
    p.p_ts IS NOT NULL AS event
  FROM s LEFT JOIN p USING (user_id), tmax
),
per AS (
  SELECT g, t, SUM(CASE WHEN event THEN 1 ELSE 0 END)::DOUBLE AS d,
    COUNT(*)::DOUBLE AS c
  FROM subj GROUP BY 1, 2
),
risked AS (
  SELECT g, t, d,
    SUM(c) OVER (PARTITION BY g ORDER BY t
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
  FROM per
),
a AS (SELECT t, d AS d1, n_risk AS n1 FROM risked WHERE g = '0'),
b AS (SELECT t, d AS d2, n_risk AS n2 FROM risked WHERE g = '1'),
grid AS (SELECT * FROM a FULL OUTER JOIN b USING (t)),
filled AS (
  SELECT t, COALESCE(d1, 0) AS d1, COALESCE(d2, 0) AS d2,
    COALESCE(n1, MAX(n1) OVER (ORDER BY t DESC
      ROWS UNBOUNDED PRECEDING), 0) AS n1,
    COALESCE(n2, MAX(n2) OVER (ORDER BY t DESC
      ROWS UNBOUNDED PRECEDING), 0) AS n2
  FROM grid
),
terms AS (
  SELECT
    ROUND(d1 - n1 * (d1 + d2) / (n1 + n2), 8) AS ome,
    ROUND(CASE WHEN n1 + n2 > 1
      THEN (d1 + d2) * (n1 / (n1 + n2)) * (1 - n1 / (n1 + n2))
           * ((n1 + n2) - (d1 + d2)) / ((n1 + n2) - 1)
      ELSE 0 END, 8) AS v
  FROM filled
),
counts AS (
  SELECT SUM(CASE WHEN g = '0' THEN 1 ELSE 0 END)::BIGINT AS n_a,
    SUM(CASE WHEN g = '1' THEN 1 ELSE 0 END)::BIGINT AS n_b
  FROM subj
)
SELECT '0' AS group_a, '1' AS group_b, counts.n_a, counts.n_b,
  ROUND(ROUND(SUM(ome), 8), 6) AS o_minus_e,
  ROUND(ROUND(SUM(v), 8), 6) AS var,
  ROUND(ROUND(SUM(ome), 8) / SQRT(ROUND(SUM(v), 8)), 6) AS z
FROM terms, counts
GROUP BY counts.n_a, counts.n_b
""",
)
def q_logrank_conversion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (operators/survival.py logrank_test,
    Mantel 1966) between the user-parity cohorts' signup-to-purchase
    curves: do the two halves convert at the same HAZARD? — the
    hypothesis test km_conversion_curve's pictures can't settle, with
    censoring handled by the same risk-set arithmetic. One
    per-(group, duration) aggregate; suffix-sum risk sets, a
    duration-grid full-outer join with the monotone-risk backfill (a
    group absent at t is still at risk with its next bucket's suffix
    count — valid because risk sets are non-increasing), then one
    summary aggregate over the duration-grain terms."""
    from fireball_data_processing_spark.operators.survival import logrank_test

    subj = _conversion_subjects(
        spark, sf_dir, [(F.col("user_id") % 2).cast("string").alias("g")]
    )
    return logrank_test(subj, group_col="g")


@query(
    "quantile_normalized_lengths",
    """
WITH d AS (SELECT doc_id, source, n_chars::DOUBLE AS v FROM documents),
wr AS (
  SELECT doc_id, source, v,
    PERCENT_RANK() OVER (PARTITION BY source ORDER BY v, doc_id) AS r
  FROM d
),
pool AS (
  SELECT doc_id, v,
    PERCENT_RANK() OVER (ORDER BY v, doc_id) AS r
  FROM d
),
u AS (
  SELECT r, 0 AS tag, doc_id, v AS pv,
    NULL::VARCHAR AS source, NULL::DOUBLE AS rawv
  FROM pool
  UNION ALL
  SELECT r, 1 AS tag, doc_id, NULL::DOUBLE AS pv, source, v AS rawv
  FROM wr
),
merged AS (
  SELECT *,
    LAST_VALUE(pv IGNORE NULLS) OVER (ORDER BY r, tag, doc_id
      ROWS UNBOUNDED PRECEDING) AS nv
  FROM u
)
SELECT source, COUNT(*)::BIGINT AS n,
  ROUND(AVG(rawv), 6) AS mean_raw,
  ROUND(AVG(nv), 6) AS mean_normalized
FROM merged WHERE tag = 1
GROUP BY source ORDER BY source
""",
)
def q_quantile_normalized_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of document length — the
    batch-effect correction from bioinformatics, here as a corpus-merge
    tool: each document's WITHIN-SOURCE rank is mapped to the POOLED
    value at the same quantile, so every source's length distribution
    becomes the pooled one and per-source summary statistics are
    comparable (mean_normalized converges across sources where mean_raw
    diverges). The quantile lookup is the house single-union merge: tag
    pooled anchor rows and request rows, one ordered window with
    last-non-null carry (the nearest-run-join idiom, operators/asof.py)
    — no per-row percentile calls, no join explosion. percent_rank with
    the doc_id tiebreak is exact integer arithmetic, so no rounding is
    needed before the merge. The merge's ordered window is corpus-grain
    by the idiom's nature (documented diagnostic escape, the
    lorenz_gini class): at 100 TB, bucket the rank axis first —
    B rank-range buckets, each carrying the previous bucket's last
    pooled anchor as a bucket-grain prefix (the token_budget_fill
    offsets shape) — and the carry window becomes per-bucket."""
    ev = load_table(spark, sf_dir, "documents")
    d = ev.select("doc_id", "source", F.col("n_chars").cast("double").alias("v"))
    wr = d.select(
        "doc_id",
        "source",
        F.col("v").alias("rawv"),
        F.percent_rank()
        .over(Window.partitionBy("source").orderBy("v", "doc_id"))
        .alias("r"),
    )
    pool = d.select(
        "doc_id",
        F.col("v").alias("pv"),
        F.percent_rank().over(Window.orderBy("v", "doc_id")).alias("r"),
    )
    u = pool.select(
        "r",
        F.lit(0).alias("tag"),
        "doc_id",
        "pv",
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("double").alias("rawv"),
    ).unionByName(
        wr.select(
            "r",
            F.lit(1).alias("tag"),
            "doc_id",
            F.lit(None).cast("double").alias("pv"),
            "source",
            "rawv",
        )
    )
    w = Window.orderBy("r", "tag", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = u.withColumn("nv", F.last("pv", ignorenulls=True).over(w))
    return (
        merged.filter(F.col("tag") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("rawv"), 6).alias("mean_raw"),
            F.round(F.avg("nv"), 6).alias("mean_normalized"),
        )
        .orderBy("source")
    )


def _entropy_rate_oracle(n_iter: int = 12) -> str:
    """Reuses the markov_stationary chain (dangling-restricted,
    renormalized matrix + unrolled power iteration) and contracts it
    with the per-state transition entropies."""
    base = _markov_oracle(n_iter=n_iter)
    head = base[: base.rindex("\nSELECT")]
    return (
        head
        + f""",
hs AS (
  SELECT src AS state, ROUND(SUM(-p * log2(p)), 8) AS h FROM m GROUP BY 1
)
SELECT COUNT(*)::BIGINT AS n_states,
  ROUND(SUM(pi.pi * hs.h), 6) AS entropy_rate_bits,
  ROUND(LOG2(COUNT(*)), 6) AS max_entropy_bits,
  ROUND(SUM(pi.pi * hs.h) / LOG2(COUNT(*)), 6) AS efficiency
FROM pi{n_iter} pi JOIN hs USING (state)
"""
    )


@query("markov_entropy_rate", _entropy_rate_oracle(n_iter=12))
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-event Markov chain: the stationary-
    weighted mean per-state transition entropy, in bits per event — how
    PREDICTABLE is the next user action given the current one? (1 bit =
    a coin flip; log2(k) = fully random walk over k states). Composes
    the existing transition matrix and unrolled power iteration
    (operators/markov.py) with one per-state entropy aggregate and a
    |states|-row contraction; the data-proportional work is unchanged
    from markov_stationary_profile. Efficiency = H / log2(k), the
    predictability headroom number."""
    import math

    from fireball_data_processing_spark.operators.markov import (
        _collected_matrix,
        _sort_key,
        _spark_round,
        _stationary_from_rows,
    )

    ev = load_table(spark, sf_dir, "events")
    # one bounded collect (|states|^2 rows, one distributed job) feeds
    # the power iteration, the per-state entropies, and the final
    # contraction driver-side — the markov_profile contract; the
    # previous shape localCheckpoint-ed the matrix, collected it again
    # for the iteration, and ran the entropy aggregate + pi join as
    # distributed jobs on sub-kilobyte frames
    mat_rows = [
        (s, d, p)
        for s, d, _, p in _collected_matrix(
            ev.select("user_id", "event_id", "event_type"),
            key_col="user_id",
            order_col="event_id",
            state_col="event_type",
        )
    ]
    pi = _stationary_from_rows(mat_rows, n_iter=12, round_dp=8)
    ln2 = math.log(2.0)
    by_src: dict = {}
    for s, _, p in sorted(
        mat_rows, key=lambda r: (_sort_key(r[0]), _sort_key(r[1]))
    ):
        by_src.setdefault(s, []).append(p)
    hs = {
        s: _spark_round(sum(-p * (math.log(p) / ln2) for p in ps), 8)
        for s, ps in by_src.items()
    }
    joined = sorted(
        (s for s in hs if s in pi), key=_sort_key
    )  # inner-join semantics of the frame form
    k = len(joined)
    if k == 0:
        row = (0, None, None, None)
    else:
        s_ph = _spark_round(sum(pi[s] * hs[s] for s in joined), 6)
        log2k = math.log(float(k)) / ln2
        if log2k == 0.0:  # k == 1: double division semantics, not NULL
            eff = float("nan") if s_ph == 0.0 else float("inf")
        else:
            eff = _spark_round(
                sum(pi[s] * hs[s] for s in joined) / log2k, 6
            )
        row = (k, s_ph, _spark_round(log2k, 6), eff)
    return spark.createDataFrame(
        [row],
        "n_states bigint, entropy_rate_bits double, "
        "max_entropy_bits double, efficiency double",
    )


@query(
    "extreme_value_return_levels",
    """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_ns(ts) / 86400000000000.0) AS BIGINT) AS day,
    MAX(value::DOUBLE) AS mx
  FROM events GROUP BY 1
),
fit AS (
  SELECT COUNT(*)::BIGINT AS n_blocks,
    ROUND(AVG(mx), 8) AS m,
    ROUND(stddev_samp(mx), 8) AS s
  FROM daily
),
params AS (
  SELECT n_blocks, m, s,
    ROUND(s * SQRT(6.0) / 3.141592653589793, 8) AS beta
  FROM fit
),
p2 AS (
  SELECT n_blocks, beta,
    ROUND(m - 0.5772156649015329 * beta, 8) AS mu
  FROM params
)
SELECT t.period, p2.n_blocks,
  ROUND(p2.mu, 6) AS mu, ROUND(p2.beta, 6) AS beta,
  ROUND(p2.mu - p2.beta * LN(-LN(1.0 - 1.0 / t.period)), 6)
    AS return_level
FROM p2, (SELECT UNNEST([7, 30, 90, 365]) AS period) t
ORDER BY t.period
""",
)
def q_extreme_value_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value return levels for the daily value maximum:
    method-of-moments fit (beta = s*sqrt(6)/pi, mu = m - gamma*beta)
    over the block-maxima series, then the T-period return level
    mu - beta*ln(-ln(1 - 1/T)) for T in {7, 30, 90, 365} days — "how
    big a daily spike should capacity planning expect per week /
    month / quarter / year?", the tail question mean/percentile
    profiles don't answer (EVT extrapolates BEYOND the observed
    maxima). One block-max aggregate + one two-moment aggregate; the
    four return levels are arithmetic on a broadcast literal frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.col("ts") / F.lit(86400.0 * 1e9)).cast("bigint").alias("day")
    ).agg(F.max(F.col("value").cast("double")).alias("mx"))
    fit = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.round(F.avg("mx"), 8).alias("m"),
        F.round(F.stddev_samp("mx"), 8).alias("s"),
    )
    beta = F.round(F.col("s") * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793), 8)
    p2 = fit.select(
        "n_blocks",
        beta.alias("beta"),
        F.round(F.col("m") - F.lit(0.5772156649015329) * beta, 8).alias("mu"),
    )
    periods = spark.createDataFrame(
        [(7,), (30,), (90,), (365,)], "period bigint"
    )
    return (
        p2.crossJoin(F.broadcast(periods))
        .select(
            "period",
            "n_blocks",
            F.round(F.col("mu"), 6).alias("mu"),
            F.round(F.col("beta"), 6).alias("beta"),
            F.round(
                F.col("mu")
                - F.col("beta")
                * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / F.col("period"))),
                6,
            ).alias("return_level"),
        )
        .orderBy("period")
    )


def _shapley_oracle() -> str:
    from fireball_data_processing_spark.operators.shapley import (
        coalition_table,
    )

    k = len(_CHANNELS)
    co = ", ".join(
        f"({ci}, {mw}, {mv}, {w})"
        for ci, mw, mv, w in coalition_table(k)
    )
    case = " ".join(
        f"WHEN '{c}' THEN {1 << i}" for i, c in enumerate(_CHANNELS)
    )
    names = ", ".join(
        f"({i}, '{c}', {1 << i})" for i, c in enumerate(_CHANNELS)
    )
    return f"""
WITH fp AS (
  SELECT user_id, MIN(event_id) AS fp
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pre AS (
  SELECT e.user_id, e.event_type, fp.fp IS NOT NULL AS conv
  FROM events e LEFT JOIN fp USING (user_id)
  WHERE fp.fp IS NULL OR e.event_id <= fp.fp
),
pu AS (
  SELECT user_id,
    BIT_OR(CASE event_type {case} ELSE 0 END) AS mask,
    MAX(CASE WHEN conv THEN 1.0 ELSE 0.0 END) AS conv
  FROM pre GROUP BY 1
),
v AS (SELECT mask, ROUND(AVG(conv), 8) AS v FROM pu GROUP BY 1),
co(ci, mask_wo, mask_w, w) AS (VALUES {co}),
credit AS (
  SELECT ci,
    ROUND(SUM(w * (COALESCE(vw.v, 0) - COALESCE(vo.v, 0))), 8) AS credit
  FROM co
  LEFT JOIN v vw ON vw.mask = co.mask_w
  LEFT JOIN v vo ON vo.mask = co.mask_wo
  GROUP BY 1
),
names(ci, channel, bitv) AS (VALUES {names}),
touched AS (
  SELECT n.ci, COUNT(*)::BIGINT AS touched
  FROM pu, names n WHERE (pu.mask & n.bitv) <> 0 GROUP BY 1
)
SELECT n.channel, ROUND(c.credit, 6) AS shapley_credit,
  COALESCE(t.touched, 0)::BIGINT AS touched_users
FROM credit c JOIN names n USING (ci) LEFT JOIN touched t USING (ci)
ORDER BY n.channel
"""


@query("shapley_channel_attribution", _shapley_oracle())
def q_shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley conversion credit per channel
    (operators/shapley.py, Shapley 1953 / Dalessandro et al. 2012): the
    order-free cooperative-game attribution next to the sequential
    Markov removal effect — each channel's average marginal
    contribution to the empirical conversion rate over all 2^4
    coalitions of pre-purchase touches, at BITMASK grain (the
    audience_overlap idiom): one per-user bit_or aggregate, one
    mask-grain rate aggregate, and the Shapley sum over a 32-row
    literal coalition table joined broadcast against the tiny v table.
    Missing coalitions contribute v = 0 (empirical-game convention,
    mirrored in the oracle)."""
    from fireball_data_processing_spark.operators.shapley import (
        shapley_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("fp"))
    )
    pre = ev.join(fp, "user_id", "left").filter(
        F.col("fp").isNull() | (F.col("event_id") <= F.col("fp"))
    )
    return shapley_attribution(
        pre,
        user_col="user_id",
        channel_col="event_type",
        converted=F.col("fp").isNotNull(),
        channels=["click", "error", "signup", "view"],
    )


# =====================================================================
# Privacy-release auditing: k-anonymity / l-diversity audit and a
# deterministic seeded-Laplace DP count release — the review gates that
# sit AFTER the scrubbing/anonymization surface (fb_pii_redact,
# fb_author_anonymize, span_scrubbed_docs) and BEFORE data leaves the
# pipeline. Reference lineage: the reference anonymizes direct
# identifiers (distill2_authors.py:34-61) but ships no linkability or
# aggregate-release audit; these are the standard published forms
# (Sweeney 2002 k-anonymity; Dwork et al. 2006 Laplace mechanism).
# =====================================================================

_KANON_ORACLE = """
WITH cls AS (
  SELECT COUNT(*)::BIGINT AS k, COUNT(DISTINCT c_mktsegment)::BIGINT AS l
  FROM customer
  GROUP BY c_nationkey, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)
),
b AS (
  SELECT
    CASE WHEN k = 1 THEN '1' WHEN k <= 4 THEN '2-4'
         WHEN k <= 9 THEN '5-9' ELSE '10+' END AS k_bucket,
    CASE WHEN k = 1 THEN 1 WHEN k <= 4 THEN 2
         WHEN k <= 9 THEN 3 ELSE 4 END::BIGINT AS bucket_order,
    k, l
  FROM cls
)
SELECT k_bucket, bucket_order,
  COUNT(*)::BIGINT AS n_classes,
  SUM(k)::BIGINT AS n_rows,
  MIN(l)::BIGINT AS min_l,
  ROUND(AVG(l::DOUBLE), 6) AS avg_l,
  ROUND(SUM(k)::DOUBLE / SUM(SUM(k)) OVER (), 6) AS pct_rows
FROM b GROUP BY k_bucket, bucket_order
ORDER BY bucket_order
"""


@query("k_anonymity_audit", _KANON_ORACLE)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the customer release under
    quasi-identifiers (nation, account-balance band of width 1000) with
    market segment as the sensitive attribute: per class-size band
    (1 / 2-4 / 5-9 / 10+), the number of equivalence classes and
    released rows, the worst and mean l-diversity, and the band's share
    of the release — singleton classes are customers an adversary
    re-identifies from the quasi-identifiers alone. Plan: ONE hash
    aggregate at QI grain (map-side partial, one shuffle on the QI
    key — the only data-proportional work; holds at any corpus size
    because the class table is |distinct QI| rows), then a constant-
    size bucket aggregate; the release-share window runs over 4 rows.
    Scrubbing (fb_pii_redact) removes direct identifiers; this measures
    what remains linkable — the audit the reference's anonymization
    pass (distill2_authors.py:34-61) never runs."""
    from fireball_data_processing_spark.operators.privacy import (
        k_anonymity_audit,
        k_anonymity_classes,
    )

    c = load_table(spark, sf_dir, "customer")
    cls = k_anonymity_classes(
        c,
        [
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("bigint")
            .alias("bal_band"),
        ],
        "c_mktsegment",
    )
    return k_anonymity_audit(cls)


_DP_RELEASE_ORACLE = """
WITH c AS (
  SELECT event_type,
    CAST(FLOOR(epoch_ns(ts) / 86400000000000.0) AS BIGINT) AS day,
    COUNT(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
u AS (
  SELECT *,
    CAST(CONCAT('0x', substr(md5(
      'dp#eps1#' || COALESCE(event_type, '<null>') || '#'
        || COALESCE(CAST(day AS VARCHAR), '<null>')
    ), 1, 12)) AS UBIGINT)::DOUBLE / 281474976710656.0 AS uni
  FROM c
)
SELECT event_type, day, n_events,
  ROUND(n_events + (
    -1.0 * SIGN(uni - 0.5)
    * LN(GREATEST(1.0 - 2.0 * ABS(uni - 0.5), 3.552713678800501e-15))
  ), 6) AS noisy_count
FROM u
ORDER BY event_type, day
"""


@query("dp_event_count_release", _DP_RELEASE_ORACLE)
def q_dp_event_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    epsilon = 1, event-level sensitivity 1) of the per-(event_type,
    day) activity histogram: each cell's true count plus
    Laplace(1)-distributed noise seeded deterministically from the cell
    key, so the release replays bit-for-bit across engines and runs
    (a production release swaps the salt for a secret per-release
    nonce; mechanism and plan unchanged). The true count column is
    retained for audit parity — a shipped release projects it away.
    Plan: one grouped count at cell grain (the only data-proportional
    work), then the noise is a pure built-in expression chain
    (md5 -> 48-bit uniform -> inverse CDF via sign/ln) inside
    whole-stage codegen — no Python, no second pass, no state. The
    48-bit uniform is exact in a DOUBLE in both engines, which is what
    makes the DuckDB replay exact."""
    from fireball_data_processing_spark.operators.privacy import laplace_noise

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.floor(F.col("ts") / F.lit(86400.0 * 1e9)).cast("bigint").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    # NULL cells get a deterministic sentinel in BOTH engines: concat_ws
    # would silently SKIP a NULL component (seed no longer encodes the
    # cell) while the oracle's || would propagate it — coalescing keeps
    # the seed total and the engines byte-identical.
    noise = laplace_noise(
        F.concat(
            F.lit("eps1#"),
            F.coalesce(F.col("event_type"), F.lit("<null>")),
            F.lit("#"),
            F.coalesce(F.col("day").cast("string"), F.lit("<null>")),
        ),
        epsilon=1.0,
        sensitivity=1.0,
    )
    return cells.select(
        "event_type",
        "day",
        "n_events",
        F.round(F.col("n_events") + noise, 6).alias("noisy_count"),
    ).orderBy("event_type", "day")


_EXPECTATIONS_ORACLE = """
WITH suite AS (
  SELECT 'customer' AS table_name, 'unique_c_custkey' AS expectation,
    COUNT(*)::BIGINT AS n_checked,
    (COUNT(*) - COUNT(DISTINCT c_custkey))::BIGINT AS n_failed
  FROM customer
  UNION ALL
  SELECT 'orders', 'fk_o_custkey_in_customer', COUNT(*)::BIGINT,
    COUNT(CASE WHEN k.__pk IS NULL THEN 1 END)::BIGINT
  FROM orders o
  LEFT JOIN (SELECT DISTINCT c_custkey AS __pk FROM customer) k
    ON o.o_custkey = k.__pk
  UNION ALL
  SELECT 'lineitem', 'fk_l_orderkey_in_orders', COUNT(*)::BIGINT,
    COUNT(CASE WHEN k.__pk IS NULL THEN 1 END)::BIGINT
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey AS __pk FROM orders) k
    ON l.l_orderkey = k.__pk
  UNION ALL
  SELECT 'lineitem', 'l_quantity_in_1_50', COUNT(*)::BIGINT,
    COUNT(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)
          THEN 1 END)::BIGINT
  FROM lineitem
  UNION ALL
  SELECT 'orders', 'o_totalprice_positive', COUNT(*)::BIGINT,
    COUNT(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 END)::BIGINT
  FROM orders
  UNION ALL
  SELECT 'events', 'event_type_in_domain', COUNT(*)::BIGINT,
    COUNT(CASE WHEN NOT COALESCE(
      event_type IN ('click', 'view', 'purchase', 'signup', 'error'), FALSE)
          THEN 1 END)::BIGINT
  FROM events
  UNION ALL
  SELECT 'documents', 'text_nonempty', COUNT(*)::BIGINT,
    COUNT(CASE WHEN NOT COALESCE(length(text) > 0, FALSE) THEN 1 END)::BIGINT
  FROM documents
)
SELECT table_name, expectation, n_checked, n_failed,
  n_failed = 0 AS passed,
  ROUND(n_failed::DOUBLE / GREATEST(n_checked, 1)::DOUBLE, 6) AS fail_rate
FROM suite
ORDER BY table_name, expectation
"""


@query("data_quality_expectations", _EXPECTATIONS_ORACLE)
def q_data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (operators/
    expectations.py — the Deequ / Great-Expectations idiom, Schelter et
    al. VLDB 2018): the intake contract a pipeline asserts per batch
    before anything downstream trusts it — key uniqueness, two
    referential-integrity checks across the order graph, a numeric
    range, a categorical domain, and text non-emptiness — as ONE
    pass/fail ledger (one row per expectation). ``table_profile``
    describes; this ASSERTS, so a scheduler can gate on ``passed``.
    NULLs fail conservatively everywhere (a NULL predicate is not TRUE;
    a NULL foreign key references nothing). Plan: each check is one
    scan + one constant-output aggregate (map-side combine); the FK
    checks join the child against the DISTINCT parent key set, left
    unhinted so AQE sizes them (broadcast iff the parent key set is
    small — at warehouse scale they go sort-merge, which is the correct
    shape); the union of one-row frames costs scheduling only.
    Reference lineage: the corpus-grain form of the reference's inline
    required-keys/shape validation (distill1_time_group.py filters)."""
    from fireball_data_processing_spark.operators.expectations import (
        expect_condition,
        expect_references,
        expect_unique,
        expectation_suite,
    )

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")
    return expectation_suite(
        [
            expect_unique(customer, "customer", "unique_c_custkey", ["c_custkey"]),
            expect_references(
                orders, "orders", "fk_o_custkey_in_customer",
                "o_custkey", customer, "c_custkey",
            ),
            expect_references(
                lineitem, "lineitem", "fk_l_orderkey_in_orders",
                "l_orderkey", orders, "o_orderkey",
            ),
            expect_condition(
                lineitem, "lineitem", "l_quantity_in_1_50",
                F.col("l_quantity").between(1, 50),
            ),
            expect_condition(
                orders, "orders", "o_totalprice_positive",
                F.col("o_totalprice") > 0,
            ),
            expect_condition(
                events, "events", "event_type_in_domain",
                F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
            ),
            expect_condition(
                documents, "documents", "text_nonempty",
                F.length("text") > 0,
            ),
        ]
    )


def get(name: str) -> QuerySpec:
    return REGISTRY[name]


# Catalog ordering: a consumer that checks only a prefix of the catalog
# samples roughly the first 50 entries, so the head leads with the queries
# whose engine changed most recently, then the queries whose last recorded
# oracle check is oldest (stalest-first, as ``scripts/attestation.py --head
# 50`` lays it out). Names listed here lead in this order; anything not
# listed follows in declaration order; listed-but-unregistered names are
# skipped.
_PRIORITY = [
    # recently changed engines
    "streaming_ingest_pipeline",
    "streaming_ingest_near_pipeline",
    "dawid_skene_labels",
    "curriculum_stages",
    "markov_removal_attribution",
    "bm25_search",
    "bootstrap_mean_ci",
    "ab_test_delta_ci",
    "doc_unigram_logprob",
    "doc_bigram_logprob",
    # stalest recorded oracle check (36)
    "dup_graph_triangle_census",
    "event_audience_overlap",
    "ewma_daily_conversion",
    "extreme_value_return_levels",
    "funnel_conversion_steps",
    "histogram_quantile_sketch",
    "isotonic_quality_calibration",
    "jackknife_quality_se",
    "km_conversion_curve",
    "kn_bigram_doc_scores",
    "lang_jsd_matrix",
    "logistic_quality_calibration",
    "logrank_conversion_test",
    "mad_outlier_profile",
    "mannwhitney_value_shift",
    "markov_entropy_rate",
    "markov_stationary_profile",
    "neyman_stratified_sample",
    "offpolicy_value_dr",
    "offpolicy_value_snips",
    "quality_ranking_rbo",
    "quality_score_propagation",
    "quantile_normalized_lengths",
    "raked_mix_weights",
    "reliability_diagram_ece",
    "segment_shift_fdr",
    "semantic_dedup_survivors",
    "shapley_channel_attribution",
    "source_lang_association",
    "sprt_conversion_decision",
    "theil_sen_daily_trend",
    "token_diversity_profile",
    "token_mass_lorenz",
    "trimmed_value_stats",
    "vocab_richness_estimate",
    "weekly_cohort_retention",
    # next-stalest, alphabetical, to fill 50
    "acf_daily_events",
    "asof_state_forward",
    "cdc_chunk_dedup",
    "cluster_balanced_sample",
]


def _ordered_names() -> list[str]:
    # dict.fromkeys: order-preserving dedup, so an accidental repeat in
    # _PRIORITY can never yield a duplicate queries() key
    head = list(dict.fromkeys(n for n in _PRIORITY if n in REGISTRY))
    seen = set(head)
    return head + [n for n in REGISTRY if n not in seen]


def queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
