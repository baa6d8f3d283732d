"""Extension catalog II (q89-q114), round-5/6 additions past the
q36-q88 extension catalog: line/paragraph dedup (first-occurrence q89 +
drop-common q105), Gopher quality and repetition batteries (q90,
q101), sessionization (q91), pivot (q92), exact z-score / robust MAD /
streaming outliers (q93, q108, q106), outer joins and TPC-H Q4/Q5/
Q10/Q13 shapes (q94, q96, q102, q103), token-budget mixture (q95),
duplicate-span profiling (q97), the declarative pipeline gated on
q69's oracle (q98), fixed-width round-trip (q99), GROUPING SETS
(q100), the skew-salted join gated for plain-join equality (q104),
the corpus-frequency OOV filter (q107), PQ-prefilter exact-re-rank
kNN gated on q11's exact contract (q109), real dependency-free
media decode (PPM/BMP/WAV) gated on closed-form digests (q110),
TPC-H Q18/Q21 decorrelation shapes (q111, q112), sketch-tier
percentiles (q113), and stream-static enrichment (q114).

Same contract as queries.py / queries_ext.py: every entry is a
(spark, sf_dir) -> DataFrame callable with a DuckDB-portable oracle
string producing identical column names, dtype categories, and values.
Float parity rule: only int/int divisions in a fixed operation order
reach double outputs, so both engines produce bit-identical IEEE
results (see tools/check_oracle.py normalize()).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from sif_spark.operators import text as sgtext
from sif_spark.queries_ext import ORACLE_Q69 as _ORACLE_Q69_REF
from sif_spark.queries_ext import _DSV_AGG_ORACLE as _DSV_AGG_ORACLE_REF
from sif_spark.sources.parquet import read_table

_LINE_WORDS = 12
_NAV = "nav home about contact login"


def _lined_text() -> F.Column:
    """Deterministic multi-line document: a shared nav-boilerplate
    header, the body re-wrapped at 12 words/line, and a per-source
    footer. The corpus has no newlines (TESTDATA.md), so line-level
    entries synthesize line structure the same way q86 synthesizes
    dirt — identically in both engines."""
    words = sgtext.tokenize(F.col("text"))
    nl = F.greatest(
        F.ceil(F.size(words) / F.lit(float(_LINE_WORDS))), F.lit(1)
    ).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda i: F.array_join(
                F.slice(words, i * _LINE_WORDS + 1, _LINE_WORDS), " "
            ),
        ),
        "\n",
    )
    return F.concat(
        F.lit(_NAV + "\n"), body, F.lit("\n"), F.concat(F.lit("footer "), F.col("source"))
    )


def q89_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (`dedup.line_dedup`, CCNet-style): every
    distinct line survives exactly once, in its lowest (doc, position)
    — the shared nav header collapses to doc 0, each source's footer
    to that source's first doc, body lines (unique word streams) stay.
    Proves reassembly order + empty-doc handling via md5 byte parity.

    Scale: lines shuffle as 8-byte xxhash64 keys with map-side MIN
    partials absorbing boilerplate hot keys; reassembly is one
    uniform groupBy(doc_id). No window over the corpus, no collect.
    """
    from sif_spark.operators.dedup import line_dedup

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", _lined_text().alias("text")
    )
    out = line_dedup(d, "text", "doc_id", sep="\n", mode="first")
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        F.col("n_lines").cast("long").alias("n_lines"),
        "n_kept",
    ).orderBy("doc_id")


ORACLE_Q89 = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents
),
lined AS (
  SELECT doc_id,
         '{_NAV}' || chr(10) ||
         array_to_string(
           list_transform(
             range(0, CAST(greatest(ceil(len(w)/{float(_LINE_WORDS)}), 1) AS INT)),
             i -> array_to_string(w[i*{_LINE_WORDS}+1:i*{_LINE_WORDS}+{_LINE_WORDS}], ' ')),
           chr(10))
         || chr(10) || 'footer ' || source AS t
  FROM toks
),
ln AS (
  SELECT doc_id, r['pos'] AS pos, r['line'] AS line FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ls)+1),
                                 i -> {{'pos': i, 'line': ls[i]}})) AS r
    FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM lined)
  ) WHERE r['line'] <> ''
),
firsts AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM ln
),
kept AS (SELECT doc_id, pos, line FROM firsts WHERE rn = 1),
asm AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t2,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM ln GROUP BY doc_id)
SELECT d.doc_id,
       md5(COALESCE(a.t2, '')) AS clean_md5,
       CAST(COALESCE(t.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept
FROM documents d
LEFT JOIN asm a USING (doc_id)
LEFT JOIN tot t USING (doc_id)
ORDER BY doc_id
"""


def q90_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (`text.gopher_signals`, Rae et
    al. 2021 §A1.1) over a deterministically dirtied corpus (every 3rd
    doc gains '#' symbols, every 5th an ellipsis — so the symbol-ratio
    and alpha-word rules actually fire). Zero-shuffle scan-stage
    expressions; the struct is unpacked so every signal is gated."""
    d = read_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" ## ### #")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" ...")).otherwise(F.lit("")),
    )
    sig = sgtext.gopher_signals(dirty, min_words=40)
    return d.select("doc_id", sig.alias("g")).select(
        "doc_id",
        F.col("g.n_words").alias("n_words"),
        F.col("g.mean_word_len").alias("mean_word_len"),
        F.col("g.frac_alpha_words").alias("frac_alpha_words"),
        F.col("g.symbol_ratio").alias("symbol_ratio"),
        F.col("g.stop_hits").alias("stop_hits"),
        F.col("g.passes").alias("passes"),
    ).orderBy("doc_id")


_GOPHER_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in sgtext.GOPHER_STOPWORDS) + "]"

ORACLE_Q90 = f"""
WITH dirty AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' ## ### #' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' ...' ELSE '' END AS t
  FROM documents
),
sig AS (
  SELECT doc_id, t,
         list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS w
  FROM dirty
),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS BIGINT)
           AS total_len,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha,
         length(t) - length(replace(t, '#', '')) AS n_hash,
         (length(t) - length(replace(t, '...', ''))) / 3 AS n_ellipsis,
         CAST(len(list_intersect(w, {_GOPHER_STOP_SQL})) AS BIGINT) AS stop_hits
  FROM sig
)
SELECT doc_id,
       n_words,
       CASE WHEN n_words > 0
            THEN CAST(total_len AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS mean_word_len,
       CASE WHEN n_words > 0
            THEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS frac_alpha_words,
       CASE WHEN n_words > 0
            THEN CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS symbol_ratio,
       stop_hits,
       (n_words >= 40 AND n_words <= 100000
        AND CAST(total_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        AND CAST(total_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        AND CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.8
        AND CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(n_words AS DOUBLE) < 0.1
        AND stop_hits >= 2) AS passes
FROM m
ORDER BY doc_id
"""


def q91_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (`timeseries.sessionize` — the replayable
    history analog of q57's streaming session windows, same 30-min gap
    semantics): per-user gap detection via one per-key lag window and
    one per-key running sum, then session-level stats off one uniform
    (user, session) shuffle. Never a global sort."""
    from sif_spark.operators.timeseries import session_stats

    e = read_table(spark, sf_dir, "events")
    return (
        session_stats(e, "user_id", "ts", gap_seconds=1800)
        .select(
            "user_id", "session_idx", "n_events", "start_ts", "end_ts",
            "duration_s",
        )
        .orderBy("user_id", "session_idx")
    )


ORACLE_Q91 = """
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
x AS (
  SELECT user_id, ts,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM s
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS start_ts,
       MAX(ts) AS end_ts,
       CAST(floor(epoch(MAX(ts))) AS BIGINT)
         - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
FROM x
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q92_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide reshape): per-user revenue by event type in
    integer cents. The pivot values are EXPLICIT, so Catalyst skips
    the extra distinct-values job and the plan is a single partial-agg
    shuffle on user_id — the wide schema is fixed at plan time, which
    is the only pivot shape that scales (a runtime-discovered pivot
    over high-cardinality types would be a driver bottleneck)."""
    e = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.sum(cents))
        .orderBy("user_id")
    )


ORACLE_Q92 = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS view
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q93_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers (`timeseries.zscore_outliers`):
    |v − mean| > 2σ via the cross-multiplied identity
    (n·v − s)² > 4·(n·q − s²) with s, q aggregated EXACTLY in int64
    and the final products/compare in double (identical IEEE op order
    both engines — no float summation anywhere; the all-int64 variant
    overflowed at the 10× scale probe). One partial-agg stats shuffle
    + a broadcast join back onto the fact table (plan-pinned in
    tests/test_plans.py)."""
    from sif_spark.operators.timeseries import zscore_outliers

    e = read_table(spark, sf_dir, "events")
    flagged = zscore_outliers(e, "event_type", "value", threshold=2.0, scale=100)
    # zscore_outliers KEEPS NULL-value rows (is_outlier=false) but the
    # oracle's WITH v filters them before counting — align the contract
    # explicitly instead of relying on the testdata having no NULLs
    # (ADVICE r5)
    return (
        flagged.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


ORACLE_Q93 = """
WITH v AS (
  SELECT event_type, CAST(round(value*100) AS BIGINT) AS ve FROM events
  WHERE value IS NOT NULL
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ve) AS BIGINT) AS s, CAST(SUM(ve*ve) AS BIGINT) AS q
  FROM v GROUP BY event_type
)
SELECT v.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN
              (CAST(st.n AS DOUBLE)*CAST(ve AS DOUBLE) - CAST(st.s AS DOUBLE))
              * (CAST(st.n AS DOUBLE)*CAST(ve AS DOUBLE) - CAST(st.s AS DOUBLE))
              > 4.0 * (CAST(st.n AS DOUBLE)*CAST(st.q AS DOUBLE)
                       - CAST(st.s AS DOUBLE)*CAST(st.s AS DOUBLE))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM v JOIN st USING (event_type)
GROUP BY v.event_type
ORDER BY v.event_type
"""


def q94_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join coverage (TPC-H Q13 shape): customers LEFT JOIN
    orders so zero-order customers keep their 0 bucket, then the
    order-count histogram. Two uniform-key shuffles (custkey, then the
    tiny count domain); the outer join uses the same SMJ/AQE machinery
    as the inner-join entries — this entry gates the null-extension
    semantics the inner joins can't see."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    cnt = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        cnt.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


ORACLE_Q94 = """
WITH cnt AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM cnt GROUP BY n_orders ORDER BY n_orders
"""


# Mixture parts for the 20 synthetic sources: src<N> gets (N % 4) + 1
# parts — embedded identically in the Spark entry and the oracle.
_MIX_WEIGHTS = {f"src{i}": (i % 4) + 1 for i in range(20)}
_MIX_RES = 10_000


def q95_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing (`text.mix_corpus` — the pretraining
    data-mixture op): per-source integer mixture parts resolve to
    deterministic hash-gate acceptance rates via exact integer
    arithmetic (`text.mix_rates`), then a scan-local filter applies
    them. Output audits the mixture: applied rate, surviving docs,
    surviving tokens per source. The corpus shuffles once (the tiny
    totals agg); the filter itself is scan-local and partitioning-
    independent."""
    from sif_spark.operators.text import mix_corpus, token_count

    d = read_table(spark, sf_dir, "documents")
    kept = mix_corpus(
        d, _MIX_WEIGHTS, resolution=_MIX_RES, keep_rate_col=True
    )
    return (
        kept.groupBy("source")
        .agg(
            F.first("mix_rate").alias("rate"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("kept_tokens"),
        )
        .orderBy("source")
    )


_MIX_VALUES_SQL = ", ".join(
    f"('{g}', {w})" for g, w in sorted(_MIX_WEIGHTS.items())
)

ORACLE_Q95 = f"""
WITH tk AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
              AS BIGINT) AS toks,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {_MIX_RES} AS bucket
  FROM documents
),
w AS (SELECT * FROM (VALUES {_MIX_VALUES_SQL}) AS t(source, wt)),
wsum AS (SELECT SUM(wt) AS ws FROM w),
tot AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS tt FROM tk GROUP BY source),
b AS (
  SELECT MIN(tt * ws // wt) AS bu
  FROM tot JOIN w USING (source) CROSS JOIN wsum WHERE wt > 0
),
r AS (
  SELECT source, LEAST({_MIX_RES}, bu * wt * {_MIX_RES} // (ws * tt)) AS rate
  FROM tot JOIN w USING (source) CROSS JOIN wsum CROSS JOIN b
  WHERE wt > 0
)
SELECT tk.source, CAST(r.rate AS BIGINT) AS rate,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS kept_tokens
FROM tk JOIN r ON tk.source = r.source
WHERE bucket < rate
GROUP BY tk.source, r.rate
ORDER BY tk.source
"""


def q96_late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point, correlated-EXISTS shape (TPC-H Q4 adapted to
    this schema's columns): orders having at least one lineitem
    shipped more than 60 days after the order date, counted by
    priority. Catalyst rewrites the correlated EXISTS into a LEFT SEMI
    join on the uniform orderkey — no per-row subquery execution, the
    decorrelation the reference's SQL-less surface can't express
    (q27 gates the scalar-subquery shape; this gates EXISTS)."""
    from sif_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


ORACLE_Q96 = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


_Q97_PRE = "terms of service apply to all content here"
_Q97_K = 4


def q97_duplication_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span profile
    (`dedup.duplication_profile`, the k-gram approximation of
    suffix-array span dedup): fraction of each doc's 4-gram positions
    whose gram recurs in ≥2 distinct docs. The corpus is framed with a
    shared ToS preamble and a per-source footer so the boilerplate
    spans actually exist (bodies are unique word streams). Linear in
    corpus tokens — no pair enumeration; doc-frequency agg keyed by
    the uniform gram hash."""
    from sif_spark.operators.dedup import duplication_profile

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(_Q97_PRE + " "),
            F.col("text"),
            F.lit(" brought to you by "),
            F.col("source"),
        ).alias("text"),
    )
    return duplication_profile(
        d, "text", "doc_id", k=_Q97_K, min_dup_docs=2
    ).orderBy("doc_id")


ORACLE_Q97 = f"""
WITH base AS (
  SELECT doc_id,
         '{_Q97_PRE} ' || text || ' brought to you by ' || source AS t
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS w
  FROM base
),
grams AS (
  SELECT doc_id, g['pos'] AS pos, g['gram'] AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, len(w) - {_Q97_K} + 2),
             i -> {{'pos': i,
                   'gram': w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]}}))
             AS g
    FROM toks WHERE len(w) >= {_Q97_K}
  )
),
dupg AS (
  SELECT gram, 1 AS dup FROM grams
  GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(COALESCE(dup, 0)) AS BIGINT) AS n_dup_grams,
       CAST(SUM(COALESCE(dup, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS dup_frac
FROM grams g LEFT JOIN dupg USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


def q98_pipeline_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative pipeline API (`sif_spark.pipeline.
    CorpusPipeline`) reproducing q69's hand-wired composition —
    quality ≥ 0.5 → language ≠ und → exact dedup → Jaccard near-dup
    clustering — and gated against the SAME oracle: proof that the
    fluent builder emits the identical plan shape (single-tokenize
    near-dup stage, checkpointed dedup corpus) with zero added
    shuffles, so a config-driven job loses nothing over expert-written
    query code."""
    from sif_spark.operators.text import token_count
    from sif_spark.pipeline import CorpusPipeline

    pipe = (
        CorpusPipeline()
        .quality_filter(min_score=0.5)
        .language_filter(exclude=("und",))
        .exact_dedup()
        .near_dup_dedup(k=3, threshold=0.2, max_shingle_freq=100)
    )
    cleaned = pipe.run(read_table(spark, sf_dir, "documents"))
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
        )
        .orderBy("lang")
    )


def q99_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source/sink round-trip
    (`sources/fixed_width.py` — the positional mainframe-export format
    the delimiter-based DSV family can't parse): write the supplier
    projection (NULLs become all-pad fields), read it back through the
    substring/trim/cast codegen projection, and run the q36 aggregate
    against the same parquet-equality oracle — proving the positional
    encode→parse path loses nothing, NULL round-trip included."""
    from sif_spark.sources.fixed_width import read_fixed_width, write_fixed_width
    from sif_spark.queries_ext import (
        _dsv_aggregate,
        _io_dir,
        _supplier_projection,
    )

    out = _io_dir(sf_dir, "supplier_fw")
    write_fixed_width(
        _supplier_projection(spark, sf_dir), out,
        [("s_suppkey", 12), ("s_nationkey", 4), ("acct_cents", 12)],
    )
    frame = read_fixed_width(
        spark, out,
        [("s_suppkey", 12, "bigint"), ("s_nationkey", 4, "bigint"),
         ("acct_cents", 12, "bigint")],
    )
    return _dsv_aggregate(frame.df)


def q100_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL entry point — the generalized
    form of the rollup/cube entries (q06/q29): three explicit sets
    (priority, status, grand total) in ONE pass with an Expand node
    instead of three scans+union. Both engines share the standard
    null-marker semantics for non-grouped keys."""
    from sif_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderpriority, o_orderstatus
        """
    )


ORACLE_Q100 = """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY o_orderpriority, o_orderstatus
"""



def q101_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher intra-document repetition battery
    (`text.gopher_repetition`): duplicate-line fractions and top-2gram
    character coverage over a corpus re-lined at 10 words/line with
    every 3rd doc's first line repeated (so the duplicate-line signals
    actually fire). All counting runs as (doc, content-hash) groupBys
    with map-side partials — never per-doc array lambdas. Ties for the
    top gram break on (count, gram), deterministic in both engines."""
    from sif_spark.operators.text import gopher_repetition

    words = sgtext.tokenize(F.col("text"))
    nl = F.greatest(F.ceil(F.size(words) / F.lit(10.0)), F.lit(1)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
    )
    lines2 = F.when(
        F.col("doc_id") % 3 == 0, F.concat(lines, F.slice(lines, 1, 1))
    ).otherwise(lines)
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(lines2, "\n").alias("text")
    )
    return gopher_repetition(d, "text", "doc_id", gram_n=2).orderBy("doc_id")


ORACLE_Q101 = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents
),
lined AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN list_concat(ls, ls[1:1]) ELSE ls END AS ls
  FROM (
    SELECT doc_id,
           list_transform(
             range(0, CAST(greatest(ceil(len(w)/10.0), 1) AS INT)),
             i -> array_to_string(w[i*10+1:i*10+10], ' ')) AS ls
    FROM toks
  )
),
doc AS (
  SELECT doc_id, array_to_string(ls, chr(10)) AS t, ls FROM lined
),
ln AS (SELECT doc_id, unnest(ls) AS line FROM doc),
per_line AS (
  SELECT doc_id, line, COUNT(*) AS cnt FROM ln
  WHERE line <> '' GROUP BY doc_id, line
),
line_stats AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS dup_positions,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END)
              AS BIGINT) AS dup_chars
  FROM per_line GROUP BY doc_id
),
w2 AS (
  SELECT doc_id,
         list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS w
  FROM doc
),
grams AS (
  SELECT doc_id, g AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS g
    FROM w2 WHERE len(w) >= 2
  )
),
gc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram),
top AS (
  SELECT doc_id, CAST(cnt * length(gram) AS BIGINT) AS top_chars FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram DESC) AS rn
    FROM gc
  ) WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(ls2.n_lines, 0) AS n_lines,
       CASE WHEN COALESCE(ls2.n_lines, 0) > 0
            THEN CAST(ls2.dup_positions AS DOUBLE)
                 / CAST(ls2.n_lines AS DOUBLE)
            ELSE 0.0 END AS frac_dup_lines,
       CASE WHEN length(d.t) > 0
            THEN CAST(COALESCE(ls2.dup_chars, 0) AS DOUBLE)
                 / CAST(length(d.t) AS DOUBLE)
            ELSE 0.0 END AS frac_chars_dup_lines,
       CASE WHEN length(d.t) > 0
            THEN CAST(COALESCE(top.top_chars, 0) AS DOUBLE)
                 / CAST(length(d.t) AS DOUBLE)
            ELSE 0.0 END AS frac_chars_top_gram
FROM doc d
LEFT JOIN line_stats ls2 USING (doc_id)
LEFT JOIN top USING (doc_id)
ORDER BY d.doc_id
"""



def q102_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-table join
    pipeline — region→nation broadcast down onto supplier, customer
    joined through orders to lineitem, revenue only where customer and
    supplier share a nation. The three dimension joins broadcast; the
    two fact-fact joins shuffle once each on their uniform keys;
    revenue aggregates in exact 1e-4 units (q01's integer-cents
    discipline). This is the join-ordering showcase entry — Catalyst
    + AQE pick the build sides."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    su = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = F.round(F.col("l_discount") * 100).cast("long")
    rev = price_c * (100 - disc_bp)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(su, l.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(n, su.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_e4"))
        .orderBy("n_name")
    )


ORACLE_Q102 = """
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT)))
            AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY n_name
"""


def q103_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): customers ranked by
    revenue lost to returns in a quarter — lineitem filtered to
    R-flag rows BEFORE the joins (predicate pushdown cuts the fact
    table first), then orders → customer → nation. Full per-customer
    output ordered deterministically (no LIMIT-with-ties ambiguity);
    revenue in exact 1e-4 units."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    n = read_table(spark, sf_dir, "nation")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = F.round(F.col("l_discount") * 100).cast("long")
    rev = price_c * (100 - disc_bp)
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("lost_revenue_e4"))
        .orderBy("c_custkey")
    )


ORACLE_Q103 = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT)))
            AS BIGINT) AS lost_revenue_e4
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY c_custkey
"""



def q104_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual skew-salted join (`operators.joins.salted_join`) gated
    for RESULT EQUALITY against the plain-join SQL: the 8-way salt
    spreads every l_suppkey across reducers (build side replicated
    8×) and must change routing only, never matches. This is the tool
    for skew AQE can't reach (streaming joins, preserved
    repartitions); the oracle proves the replicate-and-salt machinery
    loses and invents nothing."""
    from sif_spark.operators.joins import salted_join

    l = read_table(spark, sf_dir, "lineitem")
    su = read_table(spark, sf_dir, "supplier")
    joined = salted_join(
        l, su, on=[("l_suppkey", "s_suppkey")], how="inner", salt=8
    )
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(price_c).alias("base_cents"),
        )
        .orderBy("s_nationkey")
    )


ORACLE_Q104 = """
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
         AS base_cents
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
ORDER BY s_nationkey
"""



def q105_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_dedup's OTHER mode, oracle-gated: ``drop_common`` removes
    every line present in ≥5 distinct documents from EVERYWHERE (the
    pure boilerplate strip — q89 gates first-occurrence dedup). On the
    synthetic lined corpus the shared nav header (500 docs) and each
    25-doc source footer vanish; unique body lines survive
    untouched. Same plan shape as q89 minus the MIN-occurrence join:
    one distinct-doc-count agg on the 8-byte line hash, one anti-join."""
    from sif_spark.operators.dedup import line_dedup

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", _lined_text().alias("text")
    )
    out = line_dedup(d, "text", "doc_id", mode="drop_common", min_docs=5)
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        F.col("n_lines").cast("long").alias("n_lines"),
        "n_kept",
    ).orderBy("doc_id")


ORACLE_Q105 = ORACLE_Q89.replace(
    """firsts AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM ln
),
kept AS (SELECT doc_id, pos, line FROM firsts WHERE rn = 1),""",
    """common AS (
  SELECT line FROM ln GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 5
),
kept AS (
  SELECT doc_id, pos, line FROM ln
  WHERE line NOT IN (SELECT line FROM common)
),""",
)
assert "common AS" in ORACLE_Q105  # template drift guard



def q106_streaming_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming z-score flagging (`streaming.running_zscore`) gated
    against the BATCH oracle: the events table arrives as one file-
    source micro-batch, so the cumulative state after it equals the
    batch statistics and the per-event flags must match q93's SQL
    exactly — the single-batch case IS the differential contract
    (multi-batch cumulative semantics are pinned in
    tests/test_streaming.py). State is three longs per event_type,
    O(1) forever."""
    import time as _time

    from sif_spark.queries_ext import _io_dir
    from sif_spark.streaming.stream import running_zscore

    src = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stage = _io_dir(sf_dir, "events_stream_src")
    src.coalesce(1).write.mode("overwrite").parquet(stage)
    expected = src.count()
    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(stage)
    flagged = running_zscore(
        stream, "event_type", "value", "event_id", threshold=2.0
    )
    name = f"cat_stream_outliers_{abs(hash(sf_dir)) % 10_000}"
    q = (
        flagged.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        # drain the finite parquet source without the old 0.2s poll
        # quantization (VERDICT r8 "Next round" #9)
        q.processAllAvailable()
        n = spark.table(name).count()
        if n < expected:
            raise TimeoutError(
                f"streaming outliers drained only {n}/{expected} rows"
            )
    finally:
        q.stop()
        q.awaitTermination()
    # same NULL-alignment as q93: the oracle counts only non-NULL
    # values (running_zscore emits NULL-value rows with
    # is_outlier=false)
    return (
        spark.table(name)
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )



def q107_common_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency OOV filter (`text.common_token_score`): vocab
    = tokens this corpus uses ≥5×; every 4th doc gains a doc-unique
    gibberish token so the OOV signal actually fires. Threshold-by-
    count (not top-K) keeps the vocab derivation ordering-free; both
    shuffles key on the uniform token hash with map-side partials
    absorbing head words."""
    from sif_spark.operators.text import common_token_score

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit(" junk"), F.col("doc_id").cast("string"), F.lit("tok")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return common_token_score(d, "text", "doc_id", min_count=5).orderBy("doc_id")


ORACLE_Q107 = """
WITH dirty AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0
                      THEN ' junk' || CAST(doc_id AS VARCHAR) || 'tok'
                      ELSE '' END AS t
  FROM documents
),
tk AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(t, '\\s+'), x -> x <> ''))
           AS tok
  FROM dirty
),
vocab AS (
  SELECT tok, 1 AS known FROM tk GROUP BY tok HAVING COUNT(*) >= 5
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN known IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CASE WHEN known IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS oov_frac
FROM tk LEFT JOIN vocab USING (tok)
GROUP BY doc_id
ORDER BY doc_id
"""



def q108_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier flagging
    (`timeseries.mad_outliers`) — the 50%-breakdown complement to
    q93's z-score: |v − median| > 3·1.4826·MAD with median and MAD as
    PERCENTILE_DISC picks (q60's rank rule), so the whole test is
    exact integer arithmetic in both engines. Two per-group rank
    windows + broadcast stats joins."""
    from sif_spark.operators.timeseries import mad_outliers

    e = read_table(spark, sf_dir, "events")
    flagged = mad_outliers(e, "event_type", "value", k=3.0, scale=100)
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


ORACLE_Q108 = """
WITH v AS (
  SELECT event_type, CAST(round(value*100) AS BIGINT) AS ve FROM events
  WHERE value IS NOT NULL
),
r1 AS (
  SELECT event_type, ve,
         row_number() OVER (PARTITION BY event_type ORDER BY ve) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type,
         MIN(CASE WHEN rn >= ceil(0.5 * n) THEN ve END) AS med
  FROM r1 GROUP BY event_type
),
d AS (
  SELECT v.event_type, ve, abs(ve - med) AS dev
  FROM v JOIN med USING (event_type)
),
r2 AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (
  SELECT event_type,
         MIN(CASE WHEN rn >= ceil(0.5 * n) THEN dev END) AS mad
  FROM r2 GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN dev * 10000 > 44478 * mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM d JOIN mad USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""



def q109_pq_rerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production ANN shape, oracle-gated EXACTLY: PQ/ADC over 16-byte
    codes prefilters each query to 100 candidates, raw vectors join
    back for only that subset, and exact cosine re-ranks the top-5 —
    gated against the same exact-kNN SQL as q11, so the gate measures
    candidate recall directly (a missed true neighbor = hash
    mismatch). At 10B vectors the ADC pass reads 16x less data than
    the GEMM scan and the re-rank touches ~|queries|·100 raw vectors
    instead of the corpus."""
    from sif_spark.operators.similarity import (
        brute_force_knn,
        pq_encode,
        pq_knn,
        train_pq,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cb = train_pq(emb, m=8, ksub=256, sample_rows=4096, iters=8)
    codes = pq_encode(emb, cb)
    # measured: the worst true top-5 neighbor sits at ADC rank 63 on
    # this corpus — 100 candidates give direct per-query margin, not
    # union luck
    cand = pq_knn(codes, cb, queries, k=100).select("nid").distinct()
    subset = emb.join(cand, emb.vec_id == cand.nid, "left_semi")
    return brute_force_knn(subset, queries, k=5).select("qid", "nid", "rank")



def q110_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end (VERDICT r5 #2; PNG added per
    VERDICT r6 #2; GIF added round 7; JPEG round 8): 48 docs each get
    a generated blob in a real on-disk format by doc_id % 7 — P6 PPM
    (16×16 RGB), 24-bpp BMP (9×15 — odd width so every row carries
    4-byte padding), 16-bit stereo PCM WAV (500 frames), 8-bit RGBA
    PNG (11×13, ADAM7-interlaced and encoded with MIXED scanline
    filters — row r uses filter r % 5, so the zlib inflate, the
    seven-pass deinterlace scatter, AND all five unfilter paths sit
    in the oracle-gated pipeline), INTERLACED 32-color GIF (10×12 —
    LZW decode + 4-pass deinterlace + palette lookup all under the
    gate), BIG-ENDIAN grayscale TIFF (14×11 — MM byte order, so
    the IFD endianness/justification path is gated too), or baseline
    grayscale JPEG (24×16, 8×8-block-constant values so quant=1
    decode is an EXACT identity — Huffman entropy decode, dequantize,
    NumPy IDCT all under the gate; docs alternate BASELINE with
    restart_interval=2 (DRI/RSTn segmentation, per-segment
    DC-predictor resets) and PROGRESSIVE SOF2 (DC+AC spectral scans
    with successive approximation), so both entropy decoders sit
    under one closed form) — with element values a closed-form function of
    (doc_id, position). Each blob then goes through
    `multimodal.media_decoder`, the format-sniffed DEFAULT decode
    path (no injected codec anywhere), and the decoded array is
    reduced to a position-WEIGHTED integer digest.

    The weighting is what makes the gate strong: a decoder that
    mis-handles BMP's bottom-up row order, its row padding, BGR→RGB,
    the PPM header offset, WAV channel interleave, any PNG unfilter's
    left/up dependency, GIF's interlace row order, TIFF's byte
    order, or JPEG's MCU raster order / restart-segment predictor
    reset produces the same multiset of values but different
    positions — the plain sum would still match; the weighted digest
    cannot. The oracle recomputes the digest in closed form from the
    generation function (pure SQL over range() grids — DuckDB never
    needs a codec), so Spark-side encode→decode must be an exact
    identity for all seven formats.

    Scale shape: generation+decode+digest ride ONE mapInPandas over
    the doc_id projection — no shuffle at all until the final orderBy
    of 48 rows; blobs never leave their executor."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 48)
    )

    def gen_decode(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                m = did % 7
                if m in (0, 1):
                    h, w = (16, 16) if m == 0 else (9, 15)
                    y, x, c = np.meshgrid(
                        np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                    )
                    v = ((did + 3 * y + 5 * x + 7 * c) % 256).astype(np.uint8)
                    blob = mm.encode_ppm(v) if m == 0 else mm.encode_bmp(v)
                    fmt = "ppm" if m == 0 else "bmp"
                elif m == 3:
                    y, x, c = np.meshgrid(
                        np.arange(11), np.arange(13), np.arange(4), indexing="ij"
                    )
                    v = ((did + 3 * y + 5 * x + 7 * c) % 256).astype(np.uint8)
                    blob = mm.encode_png(v, filter_type="mixed", interlace=True)
                    fmt = "png"
                elif m == 5:
                    y, x = np.meshgrid(np.arange(14), np.arange(11), indexing="ij")
                    v = ((did + 9 * y + 2 * x) % 256).astype(np.uint8)
                    blob = mm.encode_tiff(v, byte_order=">")
                    fmt = "tiff"
                elif m == 4:
                    pal = np.stack(
                        [
                            np.arange(32),
                            (3 * np.arange(32)) % 256,
                            (7 * np.arange(32)) % 256,
                        ],
                        axis=1,
                    ).astype(np.uint8)
                    y, x = np.meshgrid(np.arange(10), np.arange(12), indexing="ij")
                    idx = (did + 5 * y + 3 * x) % 32
                    blob = mm.encode_gif(pal[idx], interlace=True)
                    fmt = "gif"
                elif m == 6:
                    from sif_spark.operators.jpeg import (
                        encode_jpeg,
                        encode_jpeg_progressive,
                    )

                    by, bx = np.meshgrid(np.arange(3), np.arange(2), indexing="ij")
                    bvals = ((did + 11 * by + 4 * bx) % 256).astype(np.uint8)
                    v = np.repeat(np.repeat(bvals, 8, axis=0), 8, axis=1)
                    # alternate coding processes under the same oracle:
                    # baseline+DRI/RST vs progressive (DC+AC scans with
                    # successive approximation) — block-constant values
                    # decode exactly under both, so one closed form
                    # gates both entropy decoders
                    if (did // 7) % 2 == 0:
                        blob = encode_jpeg(v, quant=1, restart_interval=2)
                    else:
                        blob = encode_jpeg_progressive(v, quant=1, al=1)
                    fmt = "jpeg"
                else:
                    i, ch = np.meshgrid(np.arange(500), np.arange(2), indexing="ij")
                    s = ((did * 7 + 13 * i + 11 * ch) % 4001 - 2000).astype(np.int16)
                    blob = mm.encode_wav(s)
                    fmt = "wav"
                arr = mm.media_decoder(blob)  # sniffed dispatch under test
                if fmt == "wav":
                    vals = np.rint(arr.astype(np.float64) * 32768.0).astype(np.int64)
                    i2, c2 = np.meshgrid(
                        np.arange(arr.shape[0]), np.arange(arr.shape[1]), indexing="ij"
                    )
                    wgt = 1 + (i2 % 31) + 2 * c2
                elif arr.ndim == 2:  # grayscale (tiff): no channel axis
                    vals = arr.astype(np.int64)
                    y2, x2 = np.meshgrid(
                        np.arange(arr.shape[0]), np.arange(arr.shape[1]), indexing="ij"
                    )
                    wgt = 1 + x2 + 2 * y2
                else:
                    vals = arr.astype(np.int64)
                    y2, x2, c2 = np.meshgrid(
                        np.arange(arr.shape[0]),
                        np.arange(arr.shape[1]),
                        np.arange(arr.shape[2]),
                        indexing="ij",
                    )
                    wgt = 1 + x2 + 2 * y2 + 4 * c2
                recs.append((did, fmt, int(vals.size), int((vals * wgt).sum())))
            yield pd.DataFrame(
                recs, columns=["doc_id", "fmt", "n_elems", "digest"]
            )

    return d.mapInPandas(
        gen_decode, "doc_id long, fmt string, n_elems long, digest long"
    ).orderBy("doc_id")


ORACLE_Q110 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 48),
ppm AS (
  SELECT doc_id, 'ppm' AS fmt, CAST(16*16*3 AS BIGINT) AS n_elems,
         CAST(SUM(((doc_id + 3*y.j + 5*x.i + 7*c.k) % 256)
                  * (1 + x.i + 2*y.j + 4*c.k)) AS BIGINT) AS digest
  FROM d, range(16) AS y(j), range(16) AS x(i), range(3) AS c(k)
  WHERE doc_id % 7 = 0 GROUP BY doc_id
),
bmp AS (
  SELECT doc_id, 'bmp' AS fmt, CAST(9*15*3 AS BIGINT) AS n_elems,
         CAST(SUM(((doc_id + 3*y.j + 5*x.i + 7*c.k) % 256)
                  * (1 + x.i + 2*y.j + 4*c.k)) AS BIGINT) AS digest
  FROM d, range(9) AS y(j), range(15) AS x(i), range(3) AS c(k)
  WHERE doc_id % 7 = 1 GROUP BY doc_id
),
wav AS (
  SELECT doc_id, 'wav' AS fmt, CAST(500*2 AS BIGINT) AS n_elems,
         CAST(SUM(((doc_id*7 + 13*i.n + 11*ch.m) % 4001 - 2000)
                  * (1 + (i.n % 31) + 2*ch.m)) AS BIGINT) AS digest
  FROM d, range(500) AS i(n), range(2) AS ch(m)
  WHERE doc_id % 7 = 2 GROUP BY doc_id
),
png AS (
  SELECT doc_id, 'png' AS fmt, CAST(11*13*4 AS BIGINT) AS n_elems,
         CAST(SUM(((doc_id + 3*y.j + 5*x.i + 7*c.k) % 256)
                  * (1 + x.i + 2*y.j + 4*c.k)) AS BIGINT) AS digest
  FROM d, range(11) AS y(j), range(13) AS x(i), range(4) AS c(k)
  WHERE doc_id % 7 = 3 GROUP BY doc_id
),
gif AS (
  SELECT doc_id, 'gif' AS fmt, CAST(10*12*3 AS BIGINT) AS n_elems,
         CAST(SUM(
           (CASE c.k WHEN 0 THEN (doc_id + 5*y.j + 3*x.i) % 32
                     WHEN 1 THEN (3*((doc_id + 5*y.j + 3*x.i) % 32)) % 256
                     ELSE (7*((doc_id + 5*y.j + 3*x.i) % 32)) % 256 END)
           * (1 + x.i + 2*y.j + 4*c.k)) AS BIGINT) AS digest
  FROM d, range(10) AS y(j), range(12) AS x(i), range(3) AS c(k)
  WHERE doc_id % 7 = 4 GROUP BY doc_id
),
tiff AS (
  SELECT doc_id, 'tiff' AS fmt, CAST(14*11 AS BIGINT) AS n_elems,
         CAST(SUM(((doc_id + 9*y.j + 2*x.i) % 256)
                  * (1 + x.i + 2*y.j)) AS BIGINT) AS digest
  FROM d, range(14) AS y(j), range(11) AS x(i)
  WHERE doc_id % 7 = 5 GROUP BY doc_id
),
jpg AS (
  SELECT doc_id, 'jpeg' AS fmt, CAST(24*16 AS BIGINT) AS n_elems,
         CAST(SUM(((doc_id + 11*by.b + 4*bx.a) % 256)
                  * (1 + (8*bx.a + xx.u) + 2*(8*by.b + yy.v))) AS BIGINT) AS digest
  FROM d, range(3) AS by(b), range(2) AS bx(a),
       range(8) AS yy(v), range(8) AS xx(u)
  WHERE doc_id % 7 = 6 GROUP BY doc_id
)
SELECT * FROM ppm UNION ALL SELECT * FROM bmp
UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM png
UNION ALL SELECT * FROM gif UNION ALL SELECT * FROM tiff
UNION ALL SELECT * FROM jpg
ORDER BY doc_id
"""


def q111_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (VERDICT r5 #8): customers holding orders whose
    total line quantity exceeds a threshold — the HAVING-subquery →
    join decorrelation pattern. The qualifying-order set (204 orders
    at sf0.01, always ≪ the fact table) is an aggregate-then-filter
    whose output is explicitly broadcast, so orders and customer are
    joined map-side with NO shuffle of either — at 100 TB the only
    shuffle is lineitem's partial-agg groupBy on its own key.
    Quantities sum as int64 (integral in the data); price in cents."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            "total_qty",
        )
        .orderBy(F.desc("price_cents"), "o_orderkey")
    )


ORACLE_Q111 = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       CAST(round(o.o_totalprice*100) AS BIGINT) AS price_cents, b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY price_cents DESC, o_orderkey
"""


def q112_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (VERDICT r5 #8): suppliers who were the SOLE
    late shipper on a multi-supplier finished order — the
    EXISTS + NOT-EXISTS double-correlated pattern, decorrelated into
    one LEFT SEMI (another supplier shipped in the order) and one LEFT
    ANTI (no OTHER supplier shipped late) join. This testdata carries
    no receipt/commit dates, so "late" is l_shipdate > o_orderdate +
    90 days (~47% of 'F' lineitems — both gates have real work).

    Scale shape: the order-date join and both semi/anti joins all key
    on l_orderkey — one co-partitioned key for the three shuffles, no
    cartesian anywhere (plan-pinned); nation→supplier is broadcast.
    The semi/anti extra predicate (suppkey ≠) rides the equi-join."""
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = read_table(spark, sf_dir, "lineitem")

    l = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias(
            "late"
        ),
    )
    l1 = l.filter(F.col("late"))
    l2 = l.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = l1.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    waiting = (
        l1.join(l2, (l1.l_orderkey == l2.k2) & (l1.l_suppkey != l2.s2), "left_semi")
        .join(l3, (l1.l_orderkey == F.col("k3")) & (l1.l_suppkey != F.col("s3")), "left_anti")
    )
    return (
        waiting.join(
            F.broadcast(
                s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
                    "s_suppkey", "s_name", "n_name"
                )
            ),
            waiting.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("n_name", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


ORACLE_Q112 = """
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT n.n_name, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM l l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY n.n_name, s.s_name
ORDER BY numwait DESC, s_name
"""


def q113_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier percentiles (`sketch.approx_percentiles`): per
    event_type p50/p90/p99 of value via percentile_approx — a
    bounded-memory mergeable summary with map-side partials, vs q60's
    exact per-group sort. Gate regime: accuracy (1M) ≥ group row
    count THROUGH THE sf1 DECADE STEP (200k rows/group — the round-10
    sweep caught accuracy=100k going lossy there: p50 34.9 vs exact
    34.88), where the GK summary is lossless and the discrete-percentile
    result (always an ELEMENT of the column, lower convention) equals
    DuckDB's quantile_disc value-for-value — the q25/q35 pattern of
    parameters making plain SQL a true oracle; production lowers
    accuracy to bound state, trading to the rank-error contract.
    One partial-agg shuffle on the 5-value group key; no sort."""
    from sif_spark.operators.sketch import approx_percentiles

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return approx_percentiles(
        e, "event_type", "value", percentiles=(0.5, 0.9, 0.99), accuracy=1_000_000
    ).orderBy("event_type")


ORACLE_Q113 = """
SELECT event_type,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       quantile_disc(value, 0.99) AS p99,
       CAST(COUNT(value) AS BIGINT) AS n_values
FROM events WHERE value IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q114_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (`streaming.enrich_stream`): the
    events stream joins the STATIC customer dimension via an explicit
    broadcast — the stream side never shuffles, no state, no
    watermark; Spark re-plans the static side each micro-batch. The
    events table arrives as one file-source micro-batch so the
    enriched per-(segment, event_type) totals must equal the batch
    join exactly — the q106 single-batch differential contract.
    Spend: one broadcast of the 1.5k-row dim + map-side join + the
    tiny group-key agg; at 100 TB/day the per-trigger cost is
    O(batch), independent of stream history."""
    import time as _time

    from sif_spark.queries_ext import _io_dir
    from sif_spark.streaming.stream import enrich_stream

    src = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    stage = _io_dir(sf_dir, "events_enrich_src")
    src.coalesce(1).write.mode("overwrite").parquet(stage)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double"
    ).parquet(stage)
    enriched = enrich_stream(stream, dim, on="user_id", how="inner")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(
                F.col("value").isNotNull(),
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("value_cents"),
    )
    name = f"cat_stream_enrich_{abs(hash(sf_dir)) % 10_000}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    # Drain target = the BATCH-side inner join count, not src.count():
    # the enrichment is an inner join, so any event with a NULL or
    # unmatched user_id never reaches the sink and a src-count target
    # would be unreachable — burning the full deadline then raising
    # even though the stream fully drained (ADVICE r6, medium). The
    # poll after processAllAvailable() is belt-and-braces for memory-
    # sink visibility, not the drain mechanism.
    expected = src.join(dim, "user_id", "inner").count()
    deadline = _time.time() + 120
    try:
        q.processAllAvailable()
        while (
            spark.table(name).agg(F.sum("n_events")).collect()[0][0] or 0
        ) < expected:
            if _time.time() > deadline:
                raise TimeoutError("stream enrich drained incompletely")
            _time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name).orderBy("c_mktsegment", "event_type")


ORACLE_Q114 = """
SELECT c_mktsegment, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN value IS NOT NULL
                     THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT)
         AS value_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
ORDER BY c_mktsegment, event_type
"""


def q115_correlated_scalar_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst's OWN decorrelation of correlated SCALAR subqueries —
    the class q27 covers only in hand-decorrelated form and q96/q112
    cover for EXISTS/NOT-EXISTS. The Spark side is the genuinely
    correlated Q17 shape with TWO scalar subqueries per outer row
    (per-part COUNT and per-part quantity SUM, both correlated on
    l2.l_partkey = l.l_partkey); the oracle is the manual per_part-CTE
    decorrelation — the gate literally proves Catalyst's rewrite is
    semantics-preserving. The predicate stays in exact integers
    (qty·n·5 < Σqty — q27's float-free cross-multiply), so the only
    thing under test is the plan rewrite. Plan-pinned: the correlated
    subqueries must land as aggregate joins on l_partkey, never a
    per-row subquery (no BroadcastNestedLoopJoin/CartesianProduct)."""
    from sif_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(
        """
        SELECT p_brand,
               COUNT(*) AS n_small,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS price_cents
        FROM lineitem l JOIN part ON p_partkey = l_partkey
        WHERE CAST(ROUND(l_quantity) AS BIGINT)
              * (SELECT COUNT(*) FROM lineitem l2
                 WHERE l2.l_partkey = l.l_partkey) * 5
              < (SELECT SUM(CAST(ROUND(l2.l_quantity) AS BIGINT))
                 FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p_brand
        ORDER BY p_brand
        """
    )


# the manually-decorrelated form (q27's oracle): equality proves the
# correlated rewrite preserves semantics
ORACLE_Q115 = """
WITH per_part AS (
  SELECT l_partkey, COUNT(*) AS n,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sq
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       COUNT(*) AS n_small,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem
JOIN per_part USING (l_partkey)
JOIN part ON p_partkey = l_partkey
WHERE CAST(ROUND(l_quantity) AS BIGINT) * n * 5 < sq
GROUP BY p_brand
ORDER BY p_brand
"""


def q116_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (VERDICT r6 "Next round" #6) adapted to this
    schema (no partsupp table — the availability threshold becomes a
    shipped-share threshold over lineitem): suppliers holding a
    DOMINANT share of some 'small%' part — a nested-IN chain
    (supplier IN … part IN …) whose inner block carries TWO
    CORRELATED scalar-aggregate thresholds (the (part,supplier)
    windowed quantity must exceed 3× the part's AVERAGE per-supplier
    share — per-part total AND per-part distinct-supplier count, both
    correlated on l1.l_partkey). The 3×-average form is deliberately
    scale-invariant: a fixed "half the total" threshold empties as
    supplier count grows with SF (measured: 0 qualifying suppliers
    even at 6× on this data), while "3× average share" selects a
    stable tail (5 suppliers at sf0.01) at any corpus size. Mirrors
    the reference's ability to express multi-level subqueries through
    its SQL front (SURVEY §2.5 assigns subquery surface to the Spark
    SQL entry point; filter.go:25-36 composes only column-level
    predicates).

    Catalyst must decorrelate BOTH levels: the IN-chains become
    left-semi equi-joins and the correlated scalar aggregates join as
    per-partkey aggregates — never a per-row nested-loop (pinned in
    tests/test_plans.py). Quantities compare in exact integers
    (win·n_supp > 3·total cross-multiply — no division, no floats),
    so the oracle gate tests ONLY the plan rewrite. At 100 TB: two
    partial-agg shuffles of lineitem on l_partkey(+l_suppkey) and a
    broadcast-semi of the tiny qualifying-supplier set — no
    data-proportional driver state."""
    from sif_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["lineitem", "part", "supplier"])
    return spark.sql(
        """
        SELECT s_suppkey, s_name,
               CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l1.l_suppkey
          FROM lineitem l1
          WHERE l1.l_partkey IN
                (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
            AND l1.l_shipdate < DATE '1998-01-01'
          GROUP BY l1.l_partkey, l1.l_suppkey
          HAVING SUM(CAST(ROUND(l1.l_quantity) AS BIGINT))
                 * (SELECT COUNT(DISTINCT l3.l_suppkey)
                    FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)
                 > 3 * (SELECT SUM(CAST(ROUND(l2.l_quantity) AS BIGINT))
                        FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        )
        ORDER BY s_suppkey
        """
    )


# manually-decorrelated form: per-part totals as a CTE joined back —
# equality proves Catalyst's nested-IN + correlated-HAVING rewrite
ORACLE_Q116 = """
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS total_qty,
         COUNT(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_partkey
),
win AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS win_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND l_shipdate < DATE '1998-01-01'
  GROUP BY l_partkey, l_suppkey
)
SELECT s_suppkey, s_name, CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM supplier
WHERE s_suppkey IN (
  SELECT w.l_suppkey FROM win w JOIN per_part p USING (l_partkey)
  WHERE w.win_qty * p.n_supp > 3 * p.total_qty)
ORDER BY s_suppkey
"""


def q117_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (VERDICT r6 "Next round" #6) adapted to this
    schema (no c_phone — the country-code bucket becomes the last two
    digits of c_name; and since nearly every customer here holds SOME
    order, "never ordered" becomes "no order since 2000-01-01", i.e.
    lapsed): above-average-balance customers with no recent order,
    bucketed by code. Exercises the LAST classic
    decorrelation pattern missing after q96/q111/q112/q115/q116: an
    anti join (NOT EXISTS against orders) combined with GLOBAL
    scalar-aggregate subqueries as a filter threshold plus substring
    bucketing.

    The balance threshold ("above the average positive balance of the
    bucketed population") compares in exact integers via the q115
    cross-multiply — cents × COUNT > SUM(cents) — two uncorrelated
    scalar subqueries Catalyst evaluates once and broadcasts, never
    per row. Plan-pinned: one LeftAnti equi-join on o_custkey, no
    nested loop over scalar results beyond Spark's single-row
    subquery reuse. At 100 TB the anti join shuffles on custkey (or
    broadcasts the aggregated order-holder set) and the scalar
    thresholds are O(1) state."""
    from sif_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT cntrycode,
               COUNT(*) AS numcust,
               SUM(acctbal_cents) AS totacctbal_cents
        FROM (
          SELECT RIGHT(c_name, 2) AS cntrycode,
                 CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
                 c_custkey
          FROM customer
          WHERE RIGHT(c_name, 2) IN ('13','31','23','29','30','18','17')
            AND CAST(ROUND(c_acctbal * 100) AS BIGINT)
                * (SELECT COUNT(*) FROM customer c2
                   WHERE c2.c_acctbal > 0
                     AND RIGHT(c2.c_name, 2)
                         IN ('13','31','23','29','30','18','17'))
                > (SELECT SUM(CAST(ROUND(c2.c_acctbal * 100) AS BIGINT))
                   FROM customer c2
                   WHERE c2.c_acctbal > 0
                     AND RIGHT(c2.c_name, 2)
                         IN ('13','31','23','29','30','18','17'))
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c_custkey
                              AND o.o_orderdate >= DATE '2000-01-01')
        )
        GROUP BY cntrycode
        ORDER BY cntrycode
        """
    )


ORACLE_Q117 = """
WITH pop AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS s
  FROM customer
  WHERE c_acctbal > 0
    AND RIGHT(c_name, 2) IN ('13','31','23','29','30','18','17')
)
SELECT RIGHT(c_name, 2) AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS totacctbal_cents
FROM customer, pop
WHERE RIGHT(c_name, 2) IN ('13','31','23','29','30','18','17')
  AND CAST(ROUND(c_acctbal * 100) AS BIGINT) * pop.n > pop.s
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                  AND o.o_orderdate >= DATE '2000-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


def q118_salted_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING arm of the salting rule (VERDICT r6 "Next round"
    #4): a stateful streaming aggregation over a deliberately skewed
    key (event_id % 10 < 9 → 90% of events collapse onto hot key 0)
    runs SALTED — groupBy(key, hash(event_id) % 16) partials in the
    stream, stateless `combine_salted` rollup on the sink — and the
    oracle replays the UNSALTED semantics (plain GROUP BY over the
    same staged rows) in DuckDB, proving the two-level decomposition
    is exact, not approximately right. Counts and cent-sums are
    algebraic, so partials combine losslessly.

    Why this exists: AQE's skew handling cannot touch a streaming
    stateful exchange (state-store partitioning is fixed for the
    query's lifetime), so the batch rule "don't salt under AQE"
    (operators/joins.py, measured round 6) does not carry over — but
    the round-7 probe sharpened WHERE salt matters: built-in agg
    shapes like this one are partial-agg-protected (max-task share
    0.043 unsalted), while custom stateful operators
    (applyInPandasWithState) carry the full hot-key share (0.902
    unsalted → 0.088 salted/64 buckets). This entry is the EXACTNESS
    witness for the decomposition both cases rely on; the skew
    measurement is recorded in SCALE.md ("Stateful-streaming skew",
    round 7; script: `git show fea8842:tools/stream_skew_probe.py`)."""
    from sif_spark.queries_ext import _io_dir
    from sif_spark.streaming.stream import combine_salted, salted_stream_agg

    src = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("skew_uid"),
        F.when(
            F.col("value").isNotNull(),
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("value_cents"),
    )
    stage = _io_dir(sf_dir, "events_salted_src")
    src.coalesce(1).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(
        "event_id long, skew_uid long, value_cents long"
    ).parquet(stage)
    partials = salted_stream_agg(
        stream, "skew_uid", "value_cents", "event_id", buckets=16
    )
    name = f"cat_salted_agg_{abs(hash(sf_dir)) % 10_000}"
    q = (
        partials.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return (
        combine_salted(spark.table(name), "skew_uid")
        .withColumn("value_sum", F.col("value_sum").cast("long"))
        .orderBy("skew_uid")
    )


# the UNSALTED semantics — equality proves the salted two-level
# streaming decomposition is exact
ORACLE_Q118 = """
SELECT skew_uid,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(value_cents) AS BIGINT) AS value_sum
FROM (
  SELECT CASE WHEN event_id % 10 < 9 THEN 0 ELSE user_id END AS skew_uid,
         CASE WHEN value IS NOT NULL
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS value_cents
  FROM events
)
GROUP BY skew_uid
ORDER BY skew_uid
"""


def q119_daily_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-EPOCH daily ingest end-to-end (VERDICT r6 "Next round"
    #5) — the actual production shape of a training-data refresh,
    composing the incremental pieces that previously shipped only
    separately: day-1 (doc_id < 250) is decontaminated against a
    held-out benchmark (doc_id % 20 == 19), exact-deduped, near-dup-
    deduped, and COMMITS its fingerprint + MinHash-signature stores;
    day-2 (doc_id ≥ 250) then ingests against those stores — its
    duplicates of day-1 CONTENT are dropped by store lookups (16
    bytes / 32 longs per historical doc), never by re-reading day-1
    text — and emits the day-2 survivors plus the updated store.

    Resume is part of the shape: each `pipeline.daily_ingest` epoch is
    committed under a parameter+token fingerprint directory, so
    re-running the entry resumes BOTH days from their committed
    survivors without recomputing (and tests/test_pipeline.py proves
    day-1's input is not even touched on resume by deleting it). The
    store directory embeds a data token (documents.parquet
    mtime+size), so regenerated testdata invalidates the store rather
    than silently resuming against stale epochs.

    The oracle replays BOTH days from scratch in DuckDB — benchmark
    grams, both days' decontamination, fingerprint store semantics,
    the md5-mode MinHash signatures, history banding + verification,
    and the within-batch survivor rule — so the gate proves the
    incremental two-epoch composition equals the full recomputation."""
    import os as _os

    from sif_spark.pipeline import daily_ingest
    from sif_spark.queries_ext import _io_dir

    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 19)
    not_bench = F.col("doc_id") % 20 != 19
    day1 = d.filter((F.col("doc_id") < 250) & not_bench)
    day2 = d.filter((F.col("doc_id") >= 250) & not_bench)
    src = f"{sf_dir}/documents.parquet"
    try:
        tok = f"{int(_os.path.getmtime(src))}_{_os.path.getsize(src)}"
    except OSError:
        tok = "unknown"
    store = _io_dir(sf_dir, f"daily_ingest_store_{tok}")
    daily_ingest(day1, store, "day1", benchmark=bench, hash_fn="md5")
    s2 = daily_ingest(day2, store, "day2", benchmark=bench, hash_fn="md5")
    return s2.select("doc_id", "lang").orderBy("doc_id")


# Replays both epochs from scratch: q76's decontamination grams
# (k=4), q83's fingerprint semantics, q85's md5-mode signatures +
# banding + verify, composed across the day boundary.
ORACLE_Q119 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
grams4 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 2),
                               i -> array_to_string(list_slice(w, i, i + 3), ' ')))
           AS g
  FROM toks WHERE len(w) >= 4
),
bench_g AS (
  SELECT DISTINCT g FROM grams4 WHERE doc_id % 20 = 19
),
contaminated AS (
  SELECT DISTINCT grams4.doc_id FROM grams4 JOIN bench_g USING (g)
  WHERE doc_id % 20 <> 19
),
fp AS (
  SELECT doc_id, lang,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
),
day1_clean AS (
  SELECT fp.* FROM fp
  WHERE doc_id < 250 AND doc_id % 20 <> 19
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
fresh1 AS (
  SELECT MIN(doc_id) AS doc_id, fingerprint
  FROM day1_clean GROUP BY fingerprint
),
sh3 AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM toks WHERE len(w) >= 3
  )
),
based AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 2147483647 AS base
  FROM sh3
),
sig AS (
  SELECT doc_id, j,
         MIN((((j * 2654435761 + 1) % 2147483647) * base
              + ((j * 40503 + 7) % 2147483647)) % 2147483647) AS h
  FROM based CROSS JOIN (SELECT unnest(range(32)) AS j) js
  GROUP BY doc_id, j
),
bandsig AS (
  SELECT doc_id, CAST(j // 4 AS INT) AS band, list(h ORDER BY j) AS bsig
  FROM sig GROUP BY 1, 2
),
d1_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandsig a JOIN bandsig b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM fresh1)
    AND b.doc_id IN (SELECT doc_id FROM fresh1)
),
d1_dropped AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM d1_cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.j = sa.j
  GROUP BY c.id_a, c.id_b
  HAVING SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) * 2 >= 32
),
surv1 AS (
  SELECT doc_id FROM fresh1
  WHERE doc_id NOT IN (SELECT doc_id FROM d1_dropped)
),
hist_fp AS (SELECT DISTINCT fingerprint FROM fresh1),
day2_clean AS (
  SELECT fp.* FROM fp
  WHERE doc_id >= 250 AND doc_id % 20 <> 19
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
fresh2 AS (
  SELECT MIN(doc_id) AS doc_id, fingerprint
  FROM day2_clean
  WHERE fingerprint NOT IN (SELECT fingerprint FROM hist_fp)
  GROUP BY fingerprint
),
cross_cand AS (
  SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
  FROM bandsig b JOIN bandsig h ON b.band = h.band AND b.bsig = h.bsig
  WHERE b.doc_id IN (SELECT doc_id FROM fresh2)
    AND h.doc_id IN (SELECT doc_id FROM surv1)
),
hist_dropped2 AS (
  SELECT DISTINCT c.bid AS doc_id
  FROM cross_cand c
  JOIN sig sb ON sb.doc_id = c.bid
  JOIN sig sh2 ON sh2.doc_id = c.hid AND sh2.j = sb.j
  GROUP BY c.bid, c.hid
  HAVING SUM(CASE WHEN sb.h = sh2.h THEN 1 ELSE 0 END) * 2 >= 32
),
d2_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandsig a JOIN bandsig b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM fresh2)
    AND b.doc_id IN (SELECT doc_id FROM fresh2)
    AND a.doc_id NOT IN (SELECT doc_id FROM hist_dropped2)
    AND b.doc_id NOT IN (SELECT doc_id FROM hist_dropped2)
),
d2_dropped AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM d2_cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.j = sa.j
  GROUP BY c.id_a, c.id_b
  HAVING SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) * 2 >= 32
)
SELECT f.doc_id, fp.lang
FROM fresh2 f JOIN fp ON fp.doc_id = f.doc_id
WHERE f.doc_id NOT IN (SELECT doc_id FROM hist_dropped2)
  AND f.doc_id NOT IN (SELECT doc_id FROM d2_dropped)
ORDER BY f.doc_id
"""


def q120_gif_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-shaped frame sampling under the oracle (round 7): 30
    docs each get a 4-frame animated GIF (8×10 RGB, per-frame LOCAL
    color tables, pixel values a closed-form function of
    (doc_id, frame, position)), `sample_frames` with the DEFAULT
    sniffed frame decoder keeps every 2nd frame (originals 0 and 2)
    as standalone PPM blobs, and each sampled frame is decoded and
    reduced to the position-weighted digest. The oracle recomputes
    both kept frames' digests in closed form — so the gate covers the
    animation container walk (GCE skipping, LCT per frame), the LZW
    decode of every kept frame, the every_n selection arithmetic, AND
    the PPM re-encode/decode of the frame hand-off.

    Scale shape: generate → sample_frames → digest ride Arrow-batched
    mapInPandas stages over the doc projection; the only shuffle is
    the final orderBy of 60 rows. Frames never leave their executor."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 30)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for k in range(4):
                    y, x = np.meshgrid(np.arange(8), np.arange(10), indexing="ij")
                    base = (did + 7 * k + 5 * y + 3 * x) % 24
                    img = np.stack(
                        [base, (5 * base) % 256, (11 * base) % 256], axis=2
                    ).astype(np.uint8)
                    frames.append(img)
                recs.append((did, mm.encode_gif_animation(frames)))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    sampled = mm.sample_frames(blobs, "blob", "doc_id", every_n=2)

    def digest(batches):
        for pdf in batches:
            recs = []
            for did, fidx, fr in zip(pdf["doc_id"], pdf["frame_idx"], pdf["frame"]):
                arr = mm.decode_ppm(bytes(fr)).astype(np.int64)
                y, x, c = np.meshgrid(
                    np.arange(arr.shape[0]),
                    np.arange(arr.shape[1]),
                    np.arange(arr.shape[2]),
                    indexing="ij",
                )
                recs.append(
                    (
                        int(did),
                        int(fidx),
                        int((arr * (1 + x + 2 * y + 4 * c)).sum()),
                    )
                )
            yield pd.DataFrame(recs, columns=["doc_id", "frame_idx", "digest"])

    return sampled.mapInPandas(
        digest, "doc_id long, frame_idx int, digest long"
    ).orderBy("doc_id", "frame_idx")


# sampled frame_idx j corresponds to ORIGINAL frame 2j; the digest is
# recomputed in closed form from the generation function
ORACLE_Q120 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 30),
f AS (SELECT unnest(range(2)) AS j),
cell AS (
  SELECT d.doc_id, f.j, y.r, x.i,
         (d.doc_id + 7*(2*f.j) + 5*y.r + 3*x.i) % 24 AS base
  FROM d, f, range(8) AS y(r), range(10) AS x(i)
)
SELECT doc_id, CAST(j AS INT) AS frame_idx,
       CAST(SUM(  base            * (1 + i + 2*r)
                + ((5*base) % 256)  * (1 + i + 2*r + 4)
                + ((11*base) % 256) * (1 + i + 2*r + 8)) AS BIGINT) AS digest
FROM cell
GROUP BY doc_id, j
ORDER BY doc_id, frame_idx
"""


def q121_tolerant_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-error tolerance UNDER THE ORACLE (VERDICT r7 ask #7):
    60 docs get a blob each — a valid 8×8 PPM with closed-form pixel
    values, EXCEPT doc_id % 5 == 3 (a PPM whose pixel payload is
    truncated to half — typed ValueError in decode) and
    doc_id % 5 == 4 (an ID3/mp3 blob — typed NotImplementedError, no
    built-in codec). The whole corpus rides the REAL operator surface:
    `decode_features(..., on_error="null")` with the default sniffed
    `media_decoder` and an injected digest embedder (the position-
    weighted digest as a single float32 feature — exact below 2^24).
    The oracle emits one row per doc with the digest NULL exactly at
    the planted corrupt positions, so both the drop COUNT and the
    drop POSITIONS are hash-gated: a decoder that silently decodes
    garbage, or a tolerance path that drops a healthy neighbor,
    cannot pass.

    Scale shape: generate → decode_features are two chained
    Arrow-batched mapInPandas over the doc projection; the only
    shuffle is the final orderBy of 60 rows — the exact crawl-decode
    shape where one corrupt blob in a billion must not kill the job
    (reference parity: IgnoreRowErrors, internal/util/operation.go:
    10-27, pushed to the decode boundary)."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 60)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                m = did % 5
                if m == 4:
                    blob = b"ID3" + bytes(64)  # no built-in codec
                else:
                    y, x, c = np.meshgrid(
                        np.arange(8), np.arange(8), np.arange(3), indexing="ij"
                    )
                    v = ((did + 3 * y + 5 * x + 7 * c) % 256).astype(np.uint8)
                    blob = mm.encode_ppm(v)
                    if m == 3:  # truncate the pixel payload: corrupt
                        blob = blob[: len(blob) - 96]
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")

    def digest_embedder(arr: np.ndarray) -> np.ndarray:
        a = arr.astype(np.int64)
        y, x, c = np.meshgrid(
            np.arange(a.shape[0]),
            np.arange(a.shape[1]),
            np.arange(a.shape[2]),
            indexing="ij",
        )
        return np.array([(a * (1 + x + 2 * y + 4 * c)).sum()], dtype=np.float32)

    feats = mm.decode_features(
        blobs, "blob", "doc_id", embedder=digest_embedder, on_error="null"
    )
    return feats.select(
        "doc_id", F.col("features")[0].cast("long").alias("digest")
    ).orderBy("doc_id")


# NULL digest exactly at the planted corrupt positions; closed-form
# digest everywhere else
ORACLE_Q121 = """
SELECT d.doc_id,
       CASE WHEN d.doc_id % 5 IN (3, 4) THEN NULL ELSE v.digest END AS digest
FROM (SELECT doc_id FROM documents WHERE doc_id < 60) d
LEFT JOIN (
  SELECT doc_id,
         CAST(SUM(((doc_id + 3*y.j + 5*x.i + 7*c.k) % 256)
                  * (1 + x.i + 2*y.j + 4*c.k)) AS BIGINT) AS digest
  FROM (SELECT doc_id FROM documents WHERE doc_id < 60),
       range(8) AS y(j), range(8) AS x(i), range(3) AS c(k)
  GROUP BY doc_id
) v USING (doc_id)
ORDER BY d.doc_id
"""


def q122_avi_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI video-container frame sampling under the oracle (round 8):
    30 docs each get a 6-frame AVI — even doc_ids an uncompressed-DIB
    stream (8×13, odd width so the 4-byte row stride is live), odd
    doc_ids an MJPG stream (16×24 gray-valued 8×8-block-constant at
    quant=1, so JPEG decode is an exact identity) — with frame 3
    written as a ZERO-LENGTH drop chunk holding frame 2.
    `sample_frames` with the DEFAULT sniffed frame decoder keeps every
    3rd frame (originals 0 and 3), so the gate covers the RIFF chunk
    walk, BOTH built-in AVI codecs, the hold-previous drop-frame
    semantics (sampled frame 1's pixels must equal original frame 2's),
    the stride-padded DIB row layout, AND the PPM frame hand-off.
    The oracle recomputes both kept frames' digests in closed form.

    Scale shape: generate → sample_frames → digest are three chained
    Arrow-batched mapInPandas stages over the doc projection; the only
    shuffle is the final orderBy of 60 rows. Video bytes never leave
    their executor."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import multimodal as mm
    from sif_spark.operators import video as vv

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 30)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for k in range(6):
                    ke = 2 if k == 3 else k  # frame 3 is the drop frame
                    if did % 2 == 0:
                        y, x = np.meshgrid(
                            np.arange(8), np.arange(13), indexing="ij"
                        )
                        base = (did + 7 * ke + 5 * y + 3 * x) % 256
                        img = np.stack(
                            [base, (5 * base) % 256, (11 * base) % 256], axis=2
                        ).astype(np.uint8)
                    else:
                        by, bx = np.meshgrid(
                            np.arange(2), np.arange(3), indexing="ij"
                        )
                        g = ((did + 7 * ke + 5 * by + 3 * bx) % 256).astype(
                            np.uint8
                        )
                        big = np.kron(g, np.ones((8, 8), np.uint8))
                        img = np.repeat(big[:, :, None], 3, axis=2)
                    frames.append(img)
                codec = "DIB " if did % 2 == 0 else "MJPG"
                recs.append(
                    (did, vv.encode_avi(frames, codec=codec, drop_frames=[3]))
                )
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    sampled = mm.sample_frames(blobs, "blob", "doc_id", every_n=3)

    def digest(batches):
        for pdf in batches:
            recs = []
            for did, fidx, fr in zip(pdf["doc_id"], pdf["frame_idx"], pdf["frame"]):
                arr = mm.decode_ppm(bytes(fr)).astype(np.int64)
                y, x, c = np.meshgrid(
                    np.arange(arr.shape[0]),
                    np.arange(arr.shape[1]),
                    np.arange(arr.shape[2]),
                    indexing="ij",
                )
                recs.append(
                    (
                        int(did),
                        int(fidx),
                        int((arr * (1 + x + 2 * y + 4 * c)).sum()),
                    )
                )
            yield pd.DataFrame(recs, columns=["doc_id", "frame_idx", "digest"])

    return sampled.mapInPandas(
        digest, "doc_id long, frame_idx int, digest long"
    ).orderBy("doc_id", "frame_idx")


# sampled frame_idx j maps to content frame ke: j=0 -> ke=0; j=1 is
# ORIGINAL frame 3, a zero-length drop chunk holding frame 2 -> ke=2.
# Even docs: DIB pixels base/(5*base)%256/(11*base)%256 at 8x13; odd
# docs: MJPG gray 8x8-block-constant at 16x24 (all 3 channels equal g,
# so the channel sum collapses to g*(3*(1+i+2*r)+12)).
ORACLE_Q122 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 30),
ke AS (SELECT 0 AS j, 0 AS k UNION ALL SELECT 1, 2),
even_dig AS (
  SELECT d.doc_id, ke.j,
         SUM(  ((d.doc_id + 7*ke.k + 5*y.r + 3*x.i) % 256)        * (1 + x.i + 2*y.r)
             + ((5*((d.doc_id + 7*ke.k + 5*y.r + 3*x.i) % 256)) % 256)  * (1 + x.i + 2*y.r + 4)
             + ((11*((d.doc_id + 7*ke.k + 5*y.r + 3*x.i) % 256)) % 256) * (1 + x.i + 2*y.r + 8)
         ) AS dg
  FROM d, ke, range(8) AS y(r), range(13) AS x(i)
  WHERE d.doc_id % 2 = 0
  GROUP BY d.doc_id, ke.j
),
odd_dig AS (
  SELECT d.doc_id, ke.j,
         SUM(((d.doc_id + 7*ke.k + 5*(y.r // 8) + 3*(x.i // 8)) % 256)
             * (3*(1 + x.i + 2*y.r) + 12)) AS dg
  FROM d, ke, range(16) AS y(r), range(24) AS x(i)
  WHERE d.doc_id % 2 = 1
  GROUP BY d.doc_id, ke.j
),
u AS (SELECT * FROM even_dig UNION ALL SELECT * FROM odd_dig)
SELECT doc_id, CAST(j AS INT) AS frame_idx, CAST(dg AS BIGINT) AS digest
FROM u
ORDER BY doc_id, frame_idx
"""


def q123_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only media probe under the oracle (round 8): 40 docs get
    a blob by doc_id % 4 — PCM WAV (closed-form rate/channels/length),
    an animated GIF (closed-form dims/frame count), an MPEG-1 Layer
    III frame sequence (the mp3 header walk: frame counting, bitrate/
    samplerate tables, duration arithmetic), and an MP4 moov tree (box
    walk: tkhd dims, mvhd duration, stsd codec fourcc). `attach_probe`
    surveys all four without decoding a single payload byte — the
    gate proves every per-format header parser AND the typed struct
    plumbing. Float parity: each duration is a single int/int → double
    division, bit-identical across engines (module docstring rule).

    Scale shape: generate → probe are two chained Arrow-batched
    mapInPandas stages; the probe reads O(header) bytes per blob, so
    a 100 TB survey is scan-bound. Only shuffle: the 40-row orderBy."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import multimodal as mm
    from sif_spark.operators import probe as pb

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 4
                if kind == 0:
                    n, rate, ch = 200 + 10 * did, 8000 + 100 * did, 1 + did % 2
                    samples = np.zeros((n, ch), np.float32)
                    blob = mm.encode_wav(samples, sample_rate=rate)
                elif kind == 1:
                    w, h, nf = 5 + did % 7, 6 + did % 5, 2 + did % 3
                    blob = mm.encode_gif_animation(
                        [np.zeros((h, w, 3), np.uint8)] * nf
                    )
                elif kind == 2:
                    rate = [44100, 48000, 32000][did % 3]
                    blob = pb.encode_mp3_frames(
                        3 + did % 5, 128, rate, 1 + did % 2
                    )
                else:
                    blob = pb.encode_mp4_stub(
                        100 + did, 50 + did, 1000 + did, 1000
                    )
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    probed = pb.attach_probe(blobs, "blob", "doc_id", on_error="raise")
    return probed.select(
        "doc_id",
        F.col("probe.format").alias("format"),
        F.col("probe.width").alias("width"),
        F.col("probe.height").alias("height"),
        F.col("probe.n_frames").alias("n_frames"),
        F.col("probe.duration_s").alias("duration_s"),
        F.col("probe.sample_rate").alias("sample_rate"),
        F.col("probe.channels").alias("channels"),
        F.col("probe.codec").alias("codec"),
    ).orderBy("doc_id")


ORACLE_Q123 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
m AS (
  SELECT doc_id, doc_id % 4 AS kind,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS mp3_rate
  FROM d
)
SELECT doc_id,
  CASE kind WHEN 0 THEN 'wav' WHEN 1 THEN 'gif' WHEN 2 THEN 'mp3' ELSE 'mp4' END AS format,
  CAST(CASE kind WHEN 1 THEN 5 + doc_id % 7 WHEN 3 THEN 100 + doc_id END AS INT) AS width,
  CAST(CASE kind WHEN 1 THEN 6 + doc_id % 5 WHEN 3 THEN 50 + doc_id END AS INT) AS height,
  CAST(CASE kind WHEN 0 THEN 200 + 10*doc_id
                 WHEN 1 THEN 2 + doc_id % 3
                 WHEN 2 THEN 3 + doc_id % 5 END AS BIGINT) AS n_frames,
  CAST(CASE kind WHEN 0 THEN (200 + 10*doc_id) / CAST(8000 + 100*doc_id AS DOUBLE)
                 WHEN 2 THEN ((3 + doc_id % 5) * 1152) / CAST(mp3_rate AS DOUBLE)
                 WHEN 3 THEN (1000 + doc_id) / CAST(1000 AS DOUBLE) END AS DOUBLE) AS duration_s,
  CAST(CASE kind WHEN 0 THEN 8000 + 100*doc_id WHEN 2 THEN mp3_rate END AS INT) AS sample_rate,
  CAST(CASE kind WHEN 0 THEN 1 + doc_id % 2 WHEN 2 THEN 1 + doc_id % 2 END AS INT) AS channels,
  CASE kind WHEN 0 THEN 'pcm' WHEN 2 THEN 'mpeg_audio' WHEN 3 THEN 'avc1' END AS codec
FROM m
ORDER BY doc_id
"""


def q124_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC lossless audio under the oracle (round 8): 40 docs get
    closed-form int16 PCM — odd docs mono sawtooth, even docs stereo
    with the stereo decorrelation mode cycling independent/left_side/
    mid_side by doc_id % 3 — encoded with the FLAC test encoder and
    decoded back through `media_decoder`'s sniffed dispatch (the
    normalized-float contract, re-quantized exactly at 16 bits). The
    digest is position-weighted over every sample and channel, so the
    gate covers rice residuals, fixed predictors, all three stereo
    modes, CRC framing, and the float normalize/requantize round trip
    — bit-exactness is the whole claim of a lossless codec.

    Scale shape: generate → encode/decode/digest ride two chained
    Arrow-batched mapInPandas stages; only shuffle is the 40-row
    orderBy. Entropy decode is the documented serial-Python boundary
    (SCALE.md) — per-blob, executor-local, inject a native codec for
    bulk corpora."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import flac as fl
    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def pcm_for(did: int) -> np.ndarray:
        n = 400 + 10 * did
        i = np.arange(n, dtype=np.int64)
        s0 = (did * 31 + i * 7) % 4001 - 2000
        if did % 2 == 0:
            s1 = (did * 17 + i * 13) % 3001 - 1500
            return np.stack([s0, s1], axis=1)
        return s0[:, None]

    def gen(batches):
        modes = ["independent", "left_side", "mid_side"]
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                pcm = pcm_for(did)
                mode = modes[did % 3] if did % 2 == 0 else "independent"
                recs.append(
                    (
                        did,
                        fl.encode_flac(
                            pcm, 16000, 16, block_size=256, stereo_mode=mode
                        ),
                    )
                )
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")

    def digest(batches):
        for pdf in batches:
            recs = []
            for did, b in zip(pdf["doc_id"], pdf["blob"]):
                x = mm.media_decoder(bytes(b))  # (n, ch) float32
                pcm = np.rint(x.astype(np.float64) * 32768.0).astype(np.int64)
                n, ch = pcm.shape
                i = np.arange(n, dtype=np.int64)[:, None]
                c = np.arange(ch, dtype=np.int64)[None, :]
                recs.append(
                    (int(did), int((pcm * (1 + i % 97 + 3 * c)).sum()), n, ch)
                )
            yield pd.DataFrame(
                recs, columns=["doc_id", "digest", "n_samples", "channels"]
            )

    return blobs.mapInPandas(
        digest, "doc_id long, digest long, n_samples int, channels int"
    ).orderBy("doc_id")


# closed-form replay of the generated PCM: s0 mono always, s1 only on
# even docs; weight (1 + i%97 + 3*ch)
ORACLE_Q124 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
cell AS (
  SELECT d.doc_id, i.i,
         (d.doc_id * 31 + i.i * 7) % 4001 - 2000 AS s0,
         (d.doc_id * 17 + i.i * 13) % 3001 - 1500 AS s1
  FROM d, range(800) AS i(i)
  WHERE i.i < 400 + 10 * d.doc_id
)
SELECT doc_id,
       CAST(SUM(s0 * (1 + i % 97)
                + CASE WHEN doc_id % 2 = 0 THEN s1 * (4 + i % 97) ELSE 0 END)
            AS BIGINT) AS digest,
       CAST(400 + 10 * doc_id AS INT) AS n_samples,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS channels
FROM cell
GROUP BY doc_id
ORDER BY doc_id
"""


def q125_image_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image preprocessing pipeline under the oracle (round 8): 40
    docs get a closed-form 16×20 RGB PPM; `transform_blobs` applies
    resize_nearest(8×10) → center_crop(6×6) → to_grayscale — all
    INTEGER-exact by contract (half-pixel-center index mapping,
    floor((in-out)/2) crop offsets, BT.601 with +500//1000 rounding) —
    and the transformed blob is decoded back to a position-weighted
    digest. The oracle replays every index computation and the luma
    arithmetic in SQL, so the whole preprocessing chain (the
    resize-before-embed shape every training pipeline runs) is gated
    end to end, including the PPM re-encode hand-off.

    Scale shape: generate → transform → digest are chained
    Arrow-batched mapInPandas stages over the doc projection; only
    shuffle is the 40-row orderBy."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import imageops as iops
    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                y, x = np.meshgrid(np.arange(16), np.arange(20), indexing="ij")
                base = (did * 13 + 7 * y + 3 * x) % 256
                img = np.stack(
                    [base, (3 * base + 50) % 256, (9 * base + 11) % 256], axis=2
                ).astype(np.uint8)
                recs.append((did, mm.encode_ppm(img)))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    pipe = iops.compose(
        lambda a: iops.resize_nearest(a, 8, 10),
        lambda a: iops.center_crop(a, 6, 6),
        iops.to_grayscale,
    )
    transformed = iops.transform_blobs(blobs, "blob", "doc_id", pipe)

    def digest(batches):
        for pdf in batches:
            recs = []
            for did, b in zip(pdf["doc_id"], pdf["blob"]):
                g = mm.decode_ppm(bytes(b)).astype(np.int64)  # (6, 6) P5
                y, x = np.meshgrid(np.arange(6), np.arange(6), indexing="ij")
                recs.append((int(did), int((g * (1 + x + 7 * y)).sum())))
            yield pd.DataFrame(recs, columns=["doc_id", "digest"])

    return transformed.mapInPandas(digest, "doc_id long, digest long").orderBy(
        "doc_id"
    )


# SQL replay of the integer pipeline: crop offset (8-6)//2 = 1 row /
# (10-6)//2 = 2 cols; resize src index ((2*(o+off)+1)*in)//(2*out);
# then the same BT.601 luma and digest weights
ORACLE_Q125 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
cell AS (
  SELECT d.doc_id, oy.r AS r, ox.i AS i,
         ((2*(oy.r + 1) + 1) * 16) // (2*8)  AS sy,
         ((2*(ox.i + 2) + 1) * 20) // (2*10) AS sx
  FROM d, range(6) AS oy(r), range(6) AS ox(i)
),
px AS (
  SELECT doc_id, r, i,
         (doc_id * 13 + 7*sy + 3*sx) % 256 AS base
  FROM cell
),
luma AS (
  SELECT doc_id, r, i,
         (299*base + 587*((3*base + 50) % 256) + 114*((9*base + 11) % 256) + 500) // 1000 AS g
  FROM px
)
SELECT doc_id, CAST(SUM(g * (1 + i + 7*r)) AS BIGINT) AS digest
FROM luma
GROUP BY doc_id
ORDER BY doc_id
"""


def q126_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features under the oracle (round 8): 40 docs get
    closed-form int16 mono PCM (a ±1000 sawtooth, so sign flips and
    energies are nontrivial), WAV-encoded, and `audio_frame_features`
    emits (frame_idx, energy, zcr, peak) per 256-sample window — all
    INTEGER by contract (Σv², strict sign-flip count between
    consecutive in-window samples, max |v|). The oracle regenerates
    every sample and replays the same window arithmetic in SQL,
    including the partial last window — gating the decode → int16
    grid → windowing → FlatMap row explosion end to end.

    Scale shape: generate → features are chained Arrow-batched
    mapInPandas stages; one row per window (the FlatMap shape); only
    shuffle is the final orderBy."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import audio as au
    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 600 + 20 * did
                i = np.arange(n, dtype=np.int64)
                v = ((did * 37 + i * 11) % 2001 - 1000).astype(np.int16)
                recs.append((did, mm.encode_wav(v, sample_rate=8000)))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return au.audio_frame_features(
        blobs, "blob", "doc_id", frame_samples=256
    ).orderBy("doc_id", "frame_idx")


# same sample generator and window arithmetic in SQL; zcr pairs are
# (i-1, i) with i % 256 != 0 (window-local), prev sample regenerated
# in closed form
ORACLE_Q126 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
s AS (
  SELECT d.doc_id, i.i,
         CAST(i.i // 256 AS INT) AS frame_idx,
         (d.doc_id * 37 + i.i * 11) % 2001 - 1000 AS v,
         CASE WHEN i.i % 256 <> 0
              THEN (d.doc_id * 37 + (i.i - 1) * 11) % 2001 - 1000 END AS pv
  FROM d, range(1400) AS i(i)
  WHERE i.i < 600 + 20 * d.doc_id
)
SELECT doc_id, frame_idx,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND v * pv < 0 THEN 1 ELSE 0 END) AS INT) AS zcr,
       CAST(MAX(ABS(v)) AS INT) AS peak
FROM s
GROUP BY doc_id, frame_idx
ORDER BY doc_id, frame_idx
"""


def q127_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup under the oracle (round 8): 40 docs in
    20 groups — doc 2k and 2k+1 share a closed-form 16×18 pattern,
    the odd doc +20 brightness on every channel (a re-encode/levels
    tweak byte-hash dedup cannot see); even docs are PNG, odd docs
    PPM. `image_near_dup_pairs` (dHash64 → the SAME banded Hamming
    join as text SimHash, pigeonhole-exact at max_hamming+1 bands)
    must find exactly the true Hamming-≤6 pair set. The oracle
    replays the ENTIRE hash in SQL — BT.601 luma, the 16→8 / 18→9
    half-pixel-center index maps, the 64 gradient comparisons packed
    into a signed BIGINT (bit 63 via the two's-complement addend) —
    then brute-forces all pairs with bit_count(xor). Brightness pairs
    surface at Hamming 0 because dHash is gradient-based: the
    invariance is the operator's whole value and the gate proves it.

    Scale shape: decode+hash is one Arrow mapInPandas pass; the join
    is banded (never all-pairs — the oracle's brute force is the
    REFERENCE, the operator's plan is sub-quadratic); hamming filter
    runs codegen'd before the distinct."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import imageops as iops
    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did // 2
                y, x = np.meshgrid(np.arange(16), np.arange(18), indexing="ij")
                # the (k*(y+1)*(x+1)) % 97 term decorrelates gradients
                # across groups: exactly the 20 brightness pairs sit
                # at hamming <= 6, every cross-group pair far above
                v = (k * 37 + 7 * y + 3 * x + (k * (y + 1) * (x + 1)) % 97) % 180
                c = 20 * (did % 2)
                img = np.stack([v + c, v + 30 + c, v + 50 + c], axis=2).astype(
                    np.uint8
                )
                blob = mm.encode_png(img) if did % 2 == 0 else mm.encode_ppm(img)
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return iops.image_near_dup_pairs(blobs, "blob", "doc_id", max_hamming=6).orderBy(
        "id_a", "id_b"
    )


# full dHash replay: luma -> sampled grid -> gradient bits -> signed
# 64-bit pack -> all-pairs bit_count(xor) <= 6 (the quadratic REFERENCE
# for the banded operator)
ORACLE_Q127 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
grid AS (
  SELECT d.doc_id, y.r, x.i,
         ((2*y.r + 1) * 16) // 16 AS sy,
         ((2*x.i + 1) * 18) // 18 AS sxl,
         ((2*(x.i+1) + 1) * 18) // 18 AS sxr
  FROM d, range(8) AS y(r), range(8) AS x(i)
),
v AS (
  SELECT doc_id, r, i,
         ((doc_id // 2) * 37 + 7*sy + 3*sxl + ((doc_id // 2) * (sy+1) * (sxl+1)) % 97) % 180 AS vl,
         ((doc_id // 2) * 37 + 7*sy + 3*sxr + ((doc_id // 2) * (sy+1) * (sxr+1)) % 97) % 180 AS vr,
         20 * (doc_id % 2) AS c
  FROM grid
),
bits AS (
  SELECT doc_id, r, i,
         CASE WHEN (299*(vl+c) + 587*(vl+30+c) + 114*(vl+50+c) + 500) // 1000
                 > (299*(vr+c) + 587*(vr+30+c) + 114*(vr+50+c) + 500) // 1000
              THEN 1 ELSE 0 END AS bit
  FROM v
),
h AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN r*8 + i < 63 THEN bit * (1::BIGINT << (r*8 + i))
                       ELSE bit * (-9223372036854775807 - 1) END) AS BIGINT) AS dh
  FROM bits
  GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dh, b.dh)) <= 6
ORDER BY id_a, id_b
"""


def q128_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection under the oracle (round 8): 30 docs get
    an 8-frame AVI (DIB; gray-valued closed-form pattern) whose
    brightness jumps +100 at frame s = 2 + doc_id % 5, with +1 frame
    jitter inside each shot. `scene_cuts` (SAD against the previous
    frame, integer-exact) with threshold 50·h·w·3 must emit EXACTLY
    the boundary frame per doc: within-shot SAD is h·w·3 (the jitter),
    the cut is 101·h·w·3. The oracle computes both in closed form —
    gating the container walk, every frame decode, and the SAD
    arithmetic. This is the keyframe-selection shape that turns
    'embed every Nth frame' into 'embed one frame per shot' at corpus
    scale.

    Scale shape: generate → scene_cuts are chained Arrow-batched
    mapInPandas stages; frames never leave their executor; only
    shuffle is the 30-row orderBy."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import video as vv

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 30)
    )
    H, W = 8, 10

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                s = 2 + did % 5
                y, x = np.meshgrid(np.arange(H), np.arange(W), indexing="ij")
                base = (did * 11 + 5 * y + 7 * x) % 120
                frames = []
                for k in range(8):
                    v = base + (100 if k >= s else 0) + k
                    frames.append(np.repeat(v[:, :, None], 3, 2).astype(np.uint8))
                recs.append((did, vv.encode_avi(frames, codec="DIB ")))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return vv.scene_cuts(blobs, "blob", "doc_id", threshold=50 * H * W * 3).orderBy(
        "doc_id"
    )


# the cut sits at frame s = 2 + doc_id % 5 with SAD = 101 * h * w * 3
# (+100 brightness jump and the +1 jitter, every pixel, 3 channels)
ORACLE_Q128 = """
SELECT doc_id,
       CAST(2 + doc_id % 5 AS INT) AS frame_idx,
       CAST(101 * 8 * 10 * 3 AS BIGINT) AS sad
FROM documents
WHERE doc_id < 30
ORDER BY doc_id
"""


def q129_mp4_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF sample extraction under the oracle (round 8): 30
    docs each get an MP4 — even doc_ids a 7-frame Motion-JPEG movie
    (16×24 gray 8×8-block-constant at quant=1, so JPEG decode is an
    exact identity; the muxer packs samples 3,2,2 per chunk so decode
    walks a genuinely non-uniform stsc table), odd doc_ids a
    3072-sample PCM audio movie on a closed-form int16 ramp
    (alternating 'sowt' little-endian and 'twos' big-endian sample
    entries by doc_id % 4, split across unequal chunks).
    `sample_frames` with the DEFAULT sniffed decoder keeps every 3rd
    video frame (originals 0/3/6) and every 2nd 1024-sample audio
    window (originals 0/2) — the gate covers the box walk, the
    stsc×stsz×stco sample resolution, per-sample JPEG decode, BOTH
    PCM byte orders, the PPM and int16-PCM frame hand-offs, and the
    video/audio dispatch inside one entry. The oracle recomputes every
    kept frame's and window's digest in closed form.

    Scale shape: generate → sample_frames → digest are three chained
    Arrow-batched mapInPandas stages over the doc projection; the only
    shuffle is the final orderBy of 75 rows. Movie bytes never leave
    their executor."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import mp4 as m4
    from sif_spark.operators import multimodal as mm

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 30)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 2 == 0:
                    frames = []
                    for k in range(7):
                        by, bx = np.meshgrid(
                            np.arange(2), np.arange(3), indexing="ij"
                        )
                        g = ((did + 7 * k + 5 * by + 3 * bx) % 256).astype(
                            np.uint8
                        )
                        big = np.kron(g, np.ones((8, 8), np.uint8))
                        frames.append(np.repeat(big[:, :, None], 3, axis=2))
                    blob = m4.encode_mp4_mjpeg(frames)
                else:
                    t = np.arange(3072, dtype=np.int64)
                    pcm = ((did * 31 + 7 * t) % 4096 - 2048).astype(np.int16)
                    codec = "sowt" if did % 4 == 1 else "twos"
                    blob = m4.encode_mp4_pcm(pcm, 8000, codec)
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    # the public operator, once per cadence: video docs keep every 3rd
    # frame, audio docs every 2nd window — both through the DEFAULT
    # sniffed decoder (mp4 dispatch)
    sampled = mm.sample_frames(
        blobs.filter(F.col("doc_id") % 2 == 0), "blob", "doc_id", every_n=3
    ).unionByName(
        mm.sample_frames(
            blobs.filter(F.col("doc_id") % 2 == 1), "blob", "doc_id", every_n=2
        )
    )

    def digest(batches):
        for pdf in batches:
            recs = []
            for did, j, fr in zip(pdf["doc_id"], pdf["frame_idx"], pdf["frame"]):
                fr = bytes(fr)
                if int(did) % 2 == 0:  # PPM video frame
                    arr = mm.decode_ppm(fr).astype(np.int64)
                    y, x, c = np.meshgrid(
                        np.arange(arr.shape[0]),
                        np.arange(arr.shape[1]),
                        np.arange(arr.shape[2]),
                        indexing="ij",
                    )
                    dg = int((arr * (1 + x + 2 * y + 4 * c)).sum())
                else:  # raw int16-LE PCM window
                    v = np.frombuffer(fr, dtype="<i2").astype(np.int64)
                    dg = int((v * (1 + np.arange(v.size))).sum())
                recs.append((int(did), int(j), dg))
            yield pd.DataFrame(recs, columns=["doc_id", "frame_idx", "digest"])

    return sampled.mapInPandas(
        digest, "doc_id long, frame_idx int, digest long"
    ).orderBy("doc_id", "frame_idx")


# Even docs: sampled frame j is original frame k=3j; gray value
# g = (did + 7k + 5*(r//8) + 3*(i//8)) % 256 on all 3 channels, so the
# q122-style channel sum collapses to g*(3*(1+i+2r)+12). Odd docs:
# sampled window j is original window w=2j; sample t of the ramp is
# (did*31 + 7*(2048j + t)) % 4096 - 2048, weighted by (1+t).
ORACLE_Q129 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 30),
vid AS (
  SELECT d.doc_id, ke.j,
         SUM(((d.doc_id + 21*ke.j + 5*(y.r // 8) + 3*(x.i // 8)) % 256)
             * (3*(1 + x.i + 2*y.r) + 12)) AS dg
  FROM d,
       (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2) ke,
       range(16) AS y(r), range(24) AS x(i)
  WHERE d.doc_id % 2 = 0
  GROUP BY d.doc_id, ke.j
),
aud AS (
  SELECT d.doc_id, w.j,
         SUM(((d.doc_id*31 + 7*(2048*w.j + t.t)) % 4096 - 2048)
             * (1 + t.t)) AS dg
  FROM d,
       (SELECT 0 AS j UNION ALL SELECT 1) w,
       range(1024) AS t(t)
  WHERE d.doc_id % 2 = 1
  GROUP BY d.doc_id, w.j
)
SELECT doc_id, CAST(j AS INT) AS frame_idx, CAST(dg AS BIGINT) AS digest
FROM (SELECT * FROM vid UNION ALL SELECT * FROM aud) u
ORDER BY doc_id, frame_idx
"""


def q130_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL under the oracle (round 8) — the action
    to q97's metric (`dedup.span_dedup`, the k-gram approximation of
    Lee et al. 2022 ExactSubstr): the same framed corpus as q97
    (shared ToS preamble + per-source footer around unique bodies),
    k=4, min_dup_docs=2 — every token position covered by a
    cross-document 4-gram is excised and the survivors reassemble in
    order. The oracle replays the whole thing in SQL — tokenize, gram
    lattice, doc-frequency, the k-position coverage window, and the
    ORDERED string_agg reassembly — so the full cleaned TEXT of every
    document is value-hashed, not just counts.

    Scale shape: per-doc lead() windows → one uniform-hash
    doc-frequency shuffle → hash join back → bounded k-row trailing
    max in the same per-doc partitioning → per-doc reassembly reusing
    that partitioning. Linear in corpus tokens; no pair enumeration,
    no global window (plan-pinned in tests/test_plans.py)."""
    from sif_spark.operators.dedup import span_dedup

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(_Q97_PRE + " "),
            F.col("text"),
            F.lit(" brought to you by "),
            F.col("source"),
        ).alias("text"),
    )
    return span_dedup(d, "text", "doc_id", k=_Q97_K, min_dup_docs=2).orderBy(
        "doc_id"
    )


ORACLE_Q130 = f"""
WITH base AS (
  SELECT doc_id,
         '{_Q97_PRE} ' || text || ' brought to you by ' || source AS t
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS w
  FROM base
),
pos AS (
  SELECT doc_id, p['i'] AS i, p['tok'] AS tok FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) + 1),
                                 i -> {{'i': i, 'tok': w[i]}})) AS p
    FROM toks
  )
),
grams AS (
  SELECT doc_id, g['pos'] AS pos, g['gram'] AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, len(w) - {_Q97_K} + 2),
             i -> {{'pos': i,
                   'gram': w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]}}))
             AS g
    FROM toks WHERE len(w) >= {_Q97_K}
  )
),
dupg AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
starts AS (
  SELECT g.doc_id, g.pos, 1 AS dup FROM grams g JOIN dupg USING (gram)
),
cov AS (
  SELECT p.doc_id, p.i, p.tok,
         MAX(COALESCE(s.dup, 0)) OVER (
           PARTITION BY p.doc_id ORDER BY p.i
           ROWS BETWEEN {_Q97_K - 1} PRECEDING AND CURRENT ROW) AS c
  FROM pos p LEFT JOIN starts s ON s.doc_id = p.doc_id AND s.pos = p.i
)
SELECT doc_id,
       COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE c = 0), '')
         AS text,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE c = 0) AS BIGINT) AS n_kept
FROM cov
GROUP BY doc_id
ORDER BY doc_id
"""


def q131_y4m_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y4M (YUV4MPEG2) uncompressed-video sampling under the oracle
    (round 8): 30 docs each get a 5-frame C420jpeg stream (16×24,
    closed-form Y/U/V planes), sampled every 2nd frame through
    `sample_frames`' default sniffed decoder. The gate covers the
    stream-header parse, the planar frame walk, the 2×2 nearest
    chroma upsample, and — pixel by pixel — the fixed-point BT.601
    integer conversion (298/409/100/208/516, +128, clamp-then->>8),
    which the DuckDB oracle replays EXACTLY because the clamp happens
    before the shift (both engines divide non-negative ints; see
    video.yuv601_to_rgb).

    Scale shape: generate → sample_frames → digest are three chained
    Arrow-batched mapInPandas stages; Y4M decode is pure NumPy
    reshape + one integer matrix formula (the vectorized side of the
    codec boundary — SCALE.md), so a 100 TB frame-extraction pass is
    scan-bound. Only shuffle: the 90-row orderBy."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import multimodal as mm
    from sif_spark.operators import video as vv

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 30)
    )
    H, W = 16, 24

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                ys, us, vs = [], [], []
                r, i = np.meshgrid(np.arange(H), np.arange(W), indexing="ij")
                cr, ci = np.meshgrid(
                    np.arange(H // 2), np.arange(W // 2), indexing="ij"
                )
                for k in range(5):
                    ys.append(((did + 7 * k + 3 * r + 5 * i) % 256).astype(np.uint8))
                    us.append(((did + 11 * k + 2 * cr + 3 * ci) % 256).astype(np.uint8))
                    vs.append(((did + 13 * k + 5 * cr + 7 * ci) % 256).astype(np.uint8))
                recs.append(
                    (did, vv.encode_y4m(ys, us, vs, colorspace="C420jpeg"))
                )
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    sampled = mm.sample_frames(blobs, "blob", "doc_id", every_n=2)

    def digest(batches):
        for pdf in batches:
            recs = []
            for did, j, fr in zip(pdf["doc_id"], pdf["frame_idx"], pdf["frame"]):
                arr = mm.decode_ppm(bytes(fr)).astype(np.int64)
                y, x, c = np.meshgrid(
                    np.arange(arr.shape[0]),
                    np.arange(arr.shape[1]),
                    np.arange(arr.shape[2]),
                    indexing="ij",
                )
                recs.append(
                    (int(did), int(j), int((arr * (1 + x + 2 * y + 4 * c)).sum()))
                )
            yield pd.DataFrame(recs, columns=["doc_id", "frame_idx", "digest"])

    return sampled.mapInPandas(
        digest, "doc_id long, frame_idx int, digest long"
    ).orderBy("doc_id", "frame_idx")


# Sampled frame j is original frame k=2j. Planes: Y=(did+14j+3r+5i)%256,
# U=(did+22j+2(r//2)+3(i//2))%256, V=(did+26j+5(r//2)+7(i//2))%256.
# Conversion: c=298(Y-16), d=U-128, e=V-128; each channel clamps
# c+<coef> to [0,65535] BEFORE dividing by 256, so DuckDB's integer
# division replays NumPy's >>8 bit-for-bit. Weights: R 1+i+2r,
# G 5+i+2r, B 9+i+2r.
ORACLE_Q131 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 30),
ke AS (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2),
px AS (
  SELECT d.doc_id, ke.j, y.r, x.i,
         298*(((d.doc_id + 14*ke.j + 3*y.r + 5*x.i) % 256) - 16) AS c,
         ((d.doc_id + 22*ke.j + 2*(y.r // 2) + 3*(x.i // 2)) % 256) - 128 AS du,
         ((d.doc_id + 26*ke.j + 5*(y.r // 2) + 7*(x.i // 2)) % 256) - 128 AS ev
  FROM d, ke, range(16) AS y(r), range(24) AS x(i)
)
SELECT doc_id, CAST(j AS INT) AS frame_idx,
       CAST(SUM(
           (LEAST(GREATEST(c + 409*ev + 128, 0), 65535) // 256) * (1 + i + 2*r)
         + (LEAST(GREATEST(c - 100*du - 208*ev + 128, 0), 65535) // 256) * (5 + i + 2*r)
         + (LEAST(GREATEST(c + 516*du + 128, 0), 65535) // 256) * (9 + i + 2*r)
       ) AS BIGINT) AS digest
FROM px
GROUP BY doc_id, j
ORDER BY doc_id, frame_idx
"""


def q132_srt_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle parsing + transcript-window alignment under the oracle
    (round 8): 40 docs each BUILD a 3-cue SRT transcript as a JVM
    expression (closed-form timestamps, multi-line payloads with a
    variable word count), then `srt_cues` parses it back and
    `align_cues_to_windows` fans each cue over the 2-second media
    windows it overlaps — the join key for pairing transcripts with
    `sample_frames` output. The oracle recomputes cue times, window
    spans, and token counts in closed form, so the block split, the
    HH:MM:SS,mmm arithmetic, the payload join, and the window
    arithmetic are all value-gated.

    Scale shape: THIS ENTRY IS 100% WHOLE-STAGE CODEGEN — the SRT
    build, the parse, and the alignment are expression trees; the only
    Python is the query definition, the only shuffle the per-doc cue
    numbering window (partitioned by doc) and the final orderBy. A
    100 TB transcript corpus parses scan-bound."""
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def ts(ms):
        return F.format_string(
            "%02d:%02d:%02d,%03d",
            (ms / 3600000).cast("int"),
            ((ms / 60000) % 60).cast("int"),
            ((ms / 1000) % 60).cast("int"),
            (ms % 1000).cast("int"),
        )

    did = F.col("doc_id")

    def block(c):
        start = did * 997 + c * 3000
        end = start + F.lit(1500 + 100 * c)
        words = F.trim(
            F.repeat(F.lit("w "), (F.lit(c) + did % 3 + 1).cast("int"))
        )
        return F.format_string(
            "%d\n%s --> %s\n%s\ndoc %d",
            F.lit(c + 1),
            ts(start),
            ts(end),
            words,
            did,
        )

    srt = d.select(
        "doc_id",
        F.concat_ws("\n\n", block(0), block(1), block(2)).alias("srt"),
    )
    from sif_spark.operators.subtitles import align_cues_to_windows, srt_cues
    from sif_spark.operators.text import token_count

    cues = srt_cues(srt, "srt", "doc_id")
    aligned = align_cues_to_windows(cues, window_ms=2000)
    return aligned.select(
        "doc_id",
        "cue_idx",
        "start_ms",
        "end_ms",
        "window_idx",
        token_count(F.col("text")).alias("n_tokens"),
    ).orderBy("doc_id", "cue_idx", "window_idx")


# Cue c of doc d: start = 997d + 3000c, end = start + 1500 + 100c,
# payload = (c + d%3 + 1) 'w' tokens + "doc <d>" (2 more tokens).
# Window w covers [2000w, 2000(w+1)); a cue spans floor(start/2000)
# .. floor((end-1)/2000).
ORACLE_Q132 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
cue AS (
  SELECT d.doc_id, c.c AS cue_idx,
         d.doc_id * 997 + c.c * 3000 AS start_ms,
         d.doc_id * 997 + c.c * 3000 + 1500 + 100 * c.c AS end_ms,
         c.c + d.doc_id % 3 + 3 AS n_tokens
  FROM d, range(3) AS c(c)
)
SELECT doc_id, CAST(cue_idx AS INT) AS cue_idx,
       CAST(start_ms AS BIGINT) AS start_ms,
       CAST(end_ms AS BIGINT) AS end_ms,
       CAST(w.w AS BIGINT) AS window_idx,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM cue, range(0, 100) AS w(w)
WHERE w.w BETWEEN start_ms // 2000 AND (end_ms - 1) // 2000
ORDER BY doc_id, cue_idx, window_idx
"""


def q133_id3_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 metadata curation under the oracle (round 8): 40 docs get
    an mp3 blob — most carry an ID3 tag (v2.4/UTF-8 for even doc_ids,
    v2.3/UTF-16 for odd — both multi-byte spec encodings under the
    gate) with closed-form title/artist/track frames; doc_id % 10 == 7
    ships bare frames with NO tag (empty map → NULL fields, the
    tolerance path). `attach_id3` extracts the text frames and the
    entry projects the curation columns a dedup/stratification stage
    keys on. The oracle recomputes every field in closed form,
    including the NULL rows.

    Scale shape: generate → attach_id3 are two Arrow-batched
    mapInPandas stages reading O(tag) bytes per blob; only shuffle is
    the 40-row orderBy."""
    import pandas as pd

    from sif_spark.operators.probe import attach_id3, encode_id3, encode_mp3_frames

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = encode_mp3_frames(3)
                if did % 10 == 7:
                    blob = frames
                else:
                    tags = {
                        "TIT2": f"title {did}",
                        "TPE1": f"artist {did % 5}",
                        "TRCK": str(did),
                    }
                    blob = encode_id3(tags, 4 if did % 2 == 0 else 3) + frames
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    tagged = attach_id3(blobs, "blob", "doc_id")
    return tagged.select(
        "doc_id",
        F.col("id3")["TIT2"].alias("title"),
        F.col("id3")["TPE1"].alias("artist"),
        F.col("id3")["TRCK"].alias("track"),
        F.size("id3").alias("n_frames"),
    ).orderBy("doc_id")


ORACLE_Q133 = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 7 THEN NULL
            ELSE 'title ' || doc_id END AS title,
       CASE WHEN doc_id % 10 = 7 THEN NULL
            ELSE 'artist ' || (doc_id % 5) END AS artist,
       CASE WHEN doc_id % 10 = 7 THEN NULL
            ELSE CAST(doc_id AS VARCHAR) END AS track,
       CAST(CASE WHEN doc_id % 10 = 7 THEN 0 ELSE 3 END AS INT) AS n_frames
FROM documents
WHERE doc_id < 40
ORDER BY doc_id
"""


def q134_mkv_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM header probe under the oracle (round 8): 30 docs
    get an EBML container — even doc_ids a WebM with a V_VP9 video
    track (closed-form dims), odd a Matroska with an A_OPUS audio
    track (closed-form rate/channels) — probed header-only through
    `attach_probe` (the payloads stay behind the injected-codec gate;
    this is the 100 TB triage path for the dominant web video
    container). The gate covers the EBML vint walk, DocType, the
    TimestampScale×Duration arithmetic, and both track layouts.
    Float parity: duration_s = doc_id·250/1000 — exact in a double in
    both engines (module docstring rule).

    Scale shape: generate → probe, two Arrow-batched mapInPandas
    stages reading O(header) bytes; only shuffle the 30-row orderBy."""
    import pandas as pd

    from sif_spark.operators.probe import attach_probe, encode_mkv_stub

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 30)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                dur = did * 250 / 1000.0
                if did % 2 == 0:
                    blob = encode_mkv_stub(
                        "webm", dur, ("V_VP9", 64 + did, 48 + did)
                    )
                else:
                    blob = encode_mkv_stub(
                        "matroska", dur, None,
                        ("A_OPUS", 8000 * (1 + did % 3), 1 + did % 2),
                    )
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    p = attach_probe(blobs, "blob", "doc_id")
    return p.select(
        "doc_id",
        F.col("probe")["format"].alias("format"),
        F.col("probe")["codec"].alias("codec"),
        F.col("probe")["width"].alias("width"),
        F.col("probe")["height"].alias("height"),
        F.col("probe")["sample_rate"].alias("sample_rate"),
        F.col("probe")["channels"].alias("channels"),
        F.col("probe")["duration_s"].alias("duration_s"),
    ).orderBy("doc_id")


ORACLE_Q134 = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'matroska' END AS format,
       CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'A_OPUS' END AS codec,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 64 + doc_id END AS INT) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 48 + doc_id END AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 8000 * (1 + doc_id % 3) END AS INT)
         AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 + doc_id % 2 END AS INT)
         AS channels,
       CAST(doc_id * 250 AS DOUBLE) / 1000 AS duration_s
FROM documents
WHERE doc_id < 30
ORDER BY doc_id
"""


def q135_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment under the oracle
    (round 8): `assign_split` buckets every document by a salted
    content-keyed hash into basis-point split ranges — the leak-proof
    alternative to rand() splits (same document → same split across
    runs, machines, and corpus versions; bump the salt to re-deal).
    Runs in the engine-portable hash60 mode so the oracle replays the
    md5 bucket AND the boundary CASE per document, then both engines
    aggregate per split: the gate covers the salting, the mod-10000
    bucketing, the cumulative boundaries, and every membership.

    Scale shape: one expression per row, no shuffle until the
    3-group aggregate — 100% whole-stage codegen before it."""
    from sif_spark.operators.text import assign_split, token_count

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = assign_split(
        d, "text", {"train": 0.9, "val": 0.06, "test": 0.04}, hash_fn="hash60"
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(token_count(F.col("text"))).alias("sum_tokens"),
        )
        .orderBy("split")
    )


# bucket = hash60('split-v1' || US || text) % 10000; train < 9000,
# val < 9600, else test. US = chr(31) (concat_ws separator).
ORACLE_Q135 = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('split-v1' || chr(31) || text), 1, 15))
              AS BIGINT) % 10000 AS bucket,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_toks
  FROM documents
)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9600 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_toks) AS BIGINT) AS sum_tokens
FROM b
GROUP BY split
ORDER BY split
"""


def q136_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard reading under the oracle (round 8): 20
    shards each authored by the STDLIB tarfile writer (the independent
    author — our reader never round-trips its own bytes here) holding
    4 samples × (.txt, .cls) members; `untar_blobs` walks the ustar
    blocks and `webdataset_samples` regroups members into samples by
    key stem. The oracle recomputes every sample's key, part count,
    class label, and text token count in closed form — the gate covers
    the header walk, checksum verification, payload slicing, the
    first-dot-of-basename key rule, and the map regrouping.

    Scale shape: generate → untar are Arrow-batched mapInPandas
    stages; the only data shuffle is the (shard, key) groupBy whose
    fan-in is parts-per-sample (2), never shard-proportional."""
    import io
    import tarfile

    import pandas as pd

    from sif_spark.operators.text import token_count
    from sif_spark.operators.webdataset import untar_blobs, webdataset_samples

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 20)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for sid in pdf["doc_id"]:
                sid = int(sid)
                buf = io.BytesIO()
                with tarfile.open(
                    fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
                ) as tf:
                    for k in range(4):
                        key = f"{sid * 10 + k:06d}"
                        txt = " ".join(["tok"] * (k + 1)).encode()
                        cls = str((sid + k) % 10).encode()
                        for ext, data in (("txt", txt), ("cls", cls)):
                            ti = tarfile.TarInfo(f"{key}.{ext}")
                            ti.size = len(data)
                            tf.addfile(ti, io.BytesIO(data))
                recs.append((sid, buf.getvalue()))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    shards = d.mapInPandas(gen, "doc_id long, blob binary")
    members = untar_blobs(shards, "blob", "doc_id")
    samples = webdataset_samples(members, "doc_id")
    return samples.select(
        F.col("doc_id").alias("shard_id"),
        "key",
        "n_parts",
        F.col("parts")["cls"].cast("string").cast("int").alias("cls"),
        token_count(F.col("parts")["txt"].cast("string")).alias("txt_tokens"),
    ).orderBy("shard_id", "key")


ORACLE_Q136 = """
SELECT d.doc_id AS shard_id,
       lpad(CAST(d.doc_id * 10 + k.k AS VARCHAR), 6, '0') AS key,
       CAST(2 AS BIGINT) AS n_parts,
       CAST((d.doc_id + k.k) % 10 AS INT) AS cls,
       CAST(k.k + 1 AS BIGINT) AS txt_tokens
FROM (SELECT doc_id FROM documents WHERE doc_id < 20) d, range(4) AS k(k)
ORDER BY shard_id, key
"""


def q137_webdataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset EXPORT round-trip under the oracle (round 8): 60
    closed-form samples pack into 5 tar shards via `write_webdataset`
    (hash-of-key shard assignment in the portable hash60 mode,
    key-sorted deterministic layout), then re-read through
    `untar_blobs` + `webdataset_samples`. The oracle recomputes the
    SHARD ASSIGNMENT (the md5 bucket arithmetic) plus every key,
    part count, label, and token count — so the sink's determinism
    contract, the tar author, and the reader all sit under one gate.

    Scale shape: the pack is one (shard_id) shuffle with
    applyInPandas; re-read is Arrow-batched; final orderBy is 60
    rows."""
    from sif_spark.operators.text import token_count
    from sif_spark.operators.webdataset import (
        untar_blobs,
        webdataset_samples,
        write_webdataset,
    )

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 60)
    )
    samples = d.select(
        F.format_string("%06d", F.col("doc_id").cast("int")).alias("key"),
        F.map_from_arrays(
            F.array(F.lit("txt"), F.lit("cls")),
            F.array(
                F.encode(
                    F.trim(
                        F.repeat(
                            F.lit("tok "), (F.col("doc_id") % 4 + 1).cast("int")
                        )
                    ),
                    "utf-8",
                ),
                F.encode((F.col("doc_id") % 10).cast("string"), "utf-8"),
            ),
        ).alias("parts"),
    )
    shards = write_webdataset(samples, n_shards=5, hash_fn="hash60")
    back = webdataset_samples(untar_blobs(shards, "blob", "shard_id"), "shard_id")
    return back.select(
        "key",
        F.col("shard_id"),
        "n_parts",
        F.col("parts")["cls"].cast("string").cast("int").alias("cls"),
        token_count(F.col("parts")["txt"].cast("string")).alias("txt_tokens"),
    ).orderBy("key")


# shard = hash60(key) % 5 where key = lpad(doc_id, 6, '0'); payloads
# are (doc_id % 4 + 1) 'tok' tokens and the doc_id % 10 label.
ORACLE_Q137 = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
s AS (
  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS key,
         doc_id % 4 + 1 AS n_toks,
         doc_id % 10 AS cls
  FROM d
)
SELECT key,
       CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) % 5 AS shard_id,
       CAST(2 AS BIGINT) AS n_parts,
       CAST(cls AS INT) AS cls,
       CAST(n_toks AS BIGINT) AS txt_tokens
FROM s
ORDER BY key
"""


def q138_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 apply-changes under the oracle (round 8): the events
    stream is treated as a per-user attribute change log (attrs =
    event_type + exact value cents); `scd2_intervals` collapses no-op
    re-deliveries and chains each user's versions into
    ``[valid_from, valid_to)`` validity intervals with an is_current
    flag — the lakehouse type-2 dimension shape every warehouse merge
    implements. The oracle replays the deterministic ordering, the
    no-op collapse, and the lead() interval chaining; every interval
    bound and flag is value-hashed.

    Scale shape: one hash shuffle on the entity key; everything else
    is per-key sort-within-partition windows — no joins, no state."""
    from sif_spark.operators.timeseries import scd2_intervals

    e = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    log = e.select(
        "user_id",
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("val_cents"),
    )
    return scd2_intervals(
        log, ["user_id"], "ts", ["event_type", "val_cents"]
    ).orderBy("user_id", "valid_from", "event_type", "val_cents")


ORACLE_Q138 = """
WITH log AS (
  SELECT user_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS val_cents
  FROM events WHERE user_id < 40
),
flagged AS (
  SELECT *,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS pet,
         lag(val_cents) OVER w AS pvc
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type, val_cents)
),
kept AS (
  SELECT user_id, ts, event_type, val_cents FROM flagged
  WHERE rn = 1
     OR NOT (event_type IS NOT DISTINCT FROM pet
             AND val_cents IS NOT DISTINCT FROM pvc)
)
SELECT user_id, event_type, val_cents,
       ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       lead(ts) OVER w2 IS NULL AS is_current
FROM kept
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_type, val_cents)
ORDER BY user_id, valid_from, event_type, val_cents
"""


def q139_zip_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip-shard reading under the oracle (round 8, the q136
    companion): 20 shards authored by the STDLIB zipfile writer —
    even shard ids STORED, odd DEFLATED, so both built-in methods and
    the CRC/size verification sit under the gate — each holding 4
    samples × (.txt, .cls); `unzip_blobs` walks the central
    directory and `webdataset_samples` regroups. Same closed-form
    oracle shape as the tar entry.

    Scale shape: identical to q136 — Arrow-batched shard explode,
    parts-per-sample groupBy fan-in."""
    import io
    import zipfile

    import pandas as pd

    from sif_spark.operators.text import token_count
    from sif_spark.operators.webdataset import unzip_blobs, webdataset_samples

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 20)
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for sid in pdf["doc_id"]:
                sid = int(sid)
                method = (
                    zipfile.ZIP_STORED if sid % 2 == 0 else zipfile.ZIP_DEFLATED
                )
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w", method) as z:
                    for k in range(4):
                        key = f"{sid * 10 + k:06d}"
                        z.writestr(f"{key}.txt", " ".join(["tok"] * (k + 1)))
                        z.writestr(f"{key}.cls", str((sid + k) % 10))
                recs.append((sid, buf.getvalue()))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    shards = d.mapInPandas(gen, "doc_id long, blob binary")
    members = unzip_blobs(shards, "blob", "doc_id")
    samples = webdataset_samples(members, "doc_id")
    return samples.select(
        F.col("doc_id").alias("shard_id"),
        "key",
        "n_parts",
        F.col("parts")["cls"].cast("string").cast("int").alias("cls"),
        token_count(F.col("parts")["txt"].cast("string")).alias("txt_tokens"),
    ).orderBy("shard_id", "key")


ORACLE_Q139 = """
SELECT d.doc_id AS shard_id,
       lpad(CAST(d.doc_id * 10 + k.k AS VARCHAR), 6, '0') AS key,
       CAST(2 AS BIGINT) AS n_parts,
       CAST((d.doc_id + k.k) % 10 AS INT) AS cls,
       CAST(k.k + 1 AS BIGINT) AS txt_tokens
FROM (SELECT doc_id FROM documents WHERE doc_id < 20) d, range(4) AS k(k)
ORDER BY shard_id, key
"""


def q140_media_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media-census capstone (round 8): 45 docs carry one blob
    each across ALL FOURTEEN sniffable formats plus planted garbage
    (doc_id % 15 picks the family), and the triage pipeline a 100 TB
    mixed crawl actually runs — `sniff_format` (one JVM when-chain)
    + `attach_probe` (header-only Arrow stage, `on_error="null"`) —
    surveys every blob without decoding a payload byte. One entry
    gates the ENTIRE sniff table and every per-format header parser
    side by side: dims for the five still-image formats, frame
    counts/durations for the four audio formats, track geometry for
    the four video containers (including sniff='mkv' vs probed
    DocType='webm'), and NULL probe rows at exactly the garbage
    positions. Every duration is a single int/int double division —
    bit-identical across engines (module docstring rule).

    Scale shape: generate → sniff+probe; the probe reads O(header)
    bytes per blob. Only shuffle: the 45-row orderBy."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import multimodal as mm
    from sif_spark.operators import probe as pb
    from sif_spark.operators import video as vv
    from sif_spark.operators.flac import encode_flac
    from sif_spark.operators.jpeg import encode_jpeg
    from sif_spark.operators.mp4 import encode_mp4_mjpeg

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 45)
    )

    def gen(batches):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (6, 9, 3), np.uint8)
        gray = np.kron(
            (7 + np.arange(2)[:, None] + np.arange(1)[None, :]) % 256,
            np.ones((8, 8), np.uint8),
        ).astype(np.uint8)
        blobs = [
            mm.encode_ppm(img),
            mm.encode_bmp(img),
            mm.encode_png(img),
            mm.encode_gif(img // 32 * 32),
            mm.encode_tiff(img),
            encode_jpeg(gray, quant=1),
            mm.encode_wav(np.zeros((1000, 1), np.int16), 8000),
            encode_flac(np.zeros((600, 1), np.int32), 16000, 16),
            vv.encode_avi([img, img], codec="DIB ", fps=10),
            encode_mp4_mjpeg([np.repeat(gray[:, :, None], 3, 2)] * 2, fps=10),
            vv.encode_y4m([np.zeros((4, 6), np.uint8)] * 3, fps=(25, 1),
                          colorspace="Cmono"),
            pb.encode_mkv_stub("webm", 0.5, ("V_VP9", 32, 24)),
            pb.encode_mp3_frames(3, id3_bytes=10),
            pb.encode_ogg_stub(),
            b"planted garbage, not media at all................",
        ]
        for pdf in batches:
            yield pd.DataFrame(
                [(int(i), blobs[int(i) % 15]) for i in pdf["doc_id"]],
                columns=["doc_id", "blob"],
            )

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    probed = pb.attach_probe(blobs, "blob", "doc_id")
    sniffs = blobs.select("doc_id", mm.sniff_format("blob").alias("sniffed"))
    return (
        sniffs.join(probed, "doc_id")
        .select(
            "doc_id",
            "sniffed",
            F.col("probe")["format"].alias("fmt"),
            F.col("probe")["width"].alias("width"),
            F.col("probe")["height"].alias("height"),
            F.col("probe")["n_frames"].alias("n_frames"),
            F.col("probe")["sample_rate"].alias("sample_rate"),
            F.col("probe")["channels"].alias("channels"),
            F.col("probe")["duration_s"].alias("duration_s"),
            F.col("probe")["codec"].alias("codec"),
        )
        .orderBy("doc_id")
    )


# family = doc_id % 15; every field is the closed-form header value of
# that family's authored blob (see gen()); family 14 is garbage →
# sniff 'unknown', NULL probe row. Durations: 1000/8000, 600/16000,
# 2/10, 3/25, 0.5 (stub double), 3*1152/44100, 9600/48000 — each a
# single int/int double division in both engines.
ORACLE_Q140 = """
WITH d AS (SELECT doc_id, doc_id % 15 AS f FROM documents WHERE doc_id < 45)
SELECT doc_id,
  CASE f WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp' WHEN 2 THEN 'png'
         WHEN 3 THEN 'gif' WHEN 4 THEN 'tiff' WHEN 5 THEN 'jpeg'
         WHEN 6 THEN 'wav' WHEN 7 THEN 'flac' WHEN 8 THEN 'avi'
         WHEN 9 THEN 'mp4' WHEN 10 THEN 'y4m' WHEN 11 THEN 'mkv'
         WHEN 12 THEN 'mp3' WHEN 13 THEN 'ogg' ELSE 'unknown' END AS sniffed,
  CASE f WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp' WHEN 2 THEN 'png'
         WHEN 3 THEN 'gif' WHEN 4 THEN 'tiff' WHEN 5 THEN 'jpeg'
         WHEN 6 THEN 'wav' WHEN 7 THEN 'flac' WHEN 8 THEN 'avi'
         WHEN 9 THEN 'mp4' WHEN 10 THEN 'y4m' WHEN 11 THEN 'webm'
         WHEN 12 THEN 'mp3' WHEN 13 THEN 'ogg' END AS fmt,
  CAST(CASE WHEN f IN (0,1,2,3,4) THEN 9 WHEN f = 5 THEN 8
            WHEN f = 8 THEN 9 WHEN f = 9 THEN 8 WHEN f = 10 THEN 6
            WHEN f = 11 THEN 32 END AS INT) AS width,
  CAST(CASE WHEN f IN (0,1,2,3,4) THEN 6 WHEN f = 5 THEN 16
            WHEN f = 8 THEN 6 WHEN f = 9 THEN 16 WHEN f = 10 THEN 4
            WHEN f = 11 THEN 24 END AS INT) AS height,
  CAST(CASE WHEN f = 3 THEN 1 WHEN f = 6 THEN 1000 WHEN f = 7 THEN 600
            WHEN f = 8 THEN 2 WHEN f = 10 THEN 3 WHEN f = 12 THEN 3
            WHEN f = 13 THEN 9600 END AS BIGINT) AS n_frames,
  CAST(CASE WHEN f = 6 THEN 8000 WHEN f = 7 THEN 16000
            WHEN f = 12 THEN 44100 WHEN f = 13 THEN 48000 END AS INT)
    AS sample_rate,
  CAST(CASE WHEN f IN (0,1,4) THEN 3 WHEN f = 5 THEN 1 WHEN f = 6 THEN 1
            WHEN f = 7 THEN 1 WHEN f = 10 THEN 1 WHEN f = 12 THEN 2
            WHEN f = 13 THEN 2 END AS INT) AS channels,
  CASE WHEN f = 6 THEN CAST(1000 AS DOUBLE) / 8000
       WHEN f = 7 THEN CAST(600 AS DOUBLE) / 16000
       WHEN f = 8 THEN CAST(2 AS DOUBLE) / 10
       WHEN f = 9 THEN CAST(2 AS DOUBLE) / 10
       WHEN f = 10 THEN CAST(3 AS DOUBLE) / 25
       WHEN f = 11 THEN 0.5
       WHEN f = 12 THEN CAST(3 * 1152 AS DOUBLE) / 44100
       WHEN f = 13 THEN CAST(9600 AS DOUBLE) / 48000 END AS duration_s,
  CASE f WHEN 5 THEN 'baseline' WHEN 6 THEN 'pcm' WHEN 7 THEN 'flac'
         WHEN 8 THEN 'DIB ' WHEN 9 THEN 'jpeg' WHEN 10 THEN 'Cmono'
         WHEN 11 THEN 'V_VP9' WHEN 12 THEN 'mpeg_audio'
         WHEN 13 THEN 'opus' END AS codec
FROM d
ORDER BY doc_id
"""


def q141_url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization under the oracle (round 8): 60 docs each
    get one of SIX variant spellings of the same resource — scheme/
    host case, an explicit default port + fragment, a trailing slash,
    tracking parameters (utm_*/gclid), and shuffled parameter order —
    built as JVM expressions; `canonicalize_url` must collapse every
    variant family (doc_id // 6) to ONE byte-identical canonical
    string. The oracle states the expected canonical per doc in
    closed form, so each individual transformation is value-gated,
    and the per-family distinct count proves the collapse.

    Scale shape: one expression tree per row, zero shuffle until the
    family groupBy — 100% whole-stage codegen. This is the identity
    key for URL-level dedup (feed to exact_dedup / assign_split)."""
    from sif_spark.operators.text import canonicalize_url

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 60)
    )
    k = (F.col("doc_id") / 6).cast("long")
    v = F.col("doc_id") % 6
    url = (
        F.when(v == 0, F.format_string("https://host%d.example.com/path?a=1&b=2", k))
        .when(v == 1, F.format_string("HTTPS://HOST%d.Example.COM/path?b=2&a=1", k))
        .when(v == 2, F.format_string(
            "https://host%d.example.com:443/path?a=1&b=2#section", k))
        .when(v == 3, F.format_string("https://host%d.example.com/path/?a=1&b=2", k))
        .when(v == 4, F.format_string(
            "https://host%d.example.com/path?utm_source=feed&a=1&b=2", k))
        .otherwise(F.format_string(
            "https://host%d.example.com/path?b=2&utm_campaign=x&a=1&gclid=z", k))
    )
    out = d.select("doc_id", canonicalize_url(url).alias("canonical_url"))
    fam = (
        out.groupBy((F.col("doc_id") / 6).cast("long").alias("family"))
        .agg(F.countDistinct("canonical_url").alias("n_distinct"))
    )
    return (
        out.join(fam, (F.col("doc_id") / 6).cast("long") == F.col("family"))
        .select("doc_id", "canonical_url", "n_distinct")
        .orderBy("doc_id")
    )


ORACLE_Q141 = """
SELECT doc_id,
       'https://host' || (doc_id // 6) || '.example.com/path?a=1&b=2'
         AS canonical_url,
       CAST(1 AS BIGINT) AS n_distinct
FROM documents
WHERE doc_id < 60
ORDER BY doc_id
"""


def q142_audio_tag_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-codec audio metadata curation under the oracle (round 8):
    40 docs get an audio blob by doc_id % 4 — FLAC with a
    VORBIS_COMMENT block, Ogg Opus with an OpusTags page, mp3 with an
    ID3v2.4 tag, and bare mp3 frames (no tag container → empty map) —
    and `attach_audio_tags` extracts title/artist through ONE sniffed
    dispatch. The oracle recomputes every field in closed form,
    including the key-normalization difference between the families
    (Vorbis TITLE vs ID3 TIT2) and the empty-map row.

    Scale shape: generate → attach are Arrow-batched mapInPandas
    stages reading O(tag) bytes; only shuffle the 40-row orderBy."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators.flac import encode_flac
    from sif_spark.operators.probe import (
        add_flac_tags,
        attach_audio_tags,
        encode_id3,
        encode_mp3_frames,
        encode_ogg_tags,
    )

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def gen(batches):
        pcm = np.zeros((100, 1), np.int32)
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                tags = {"TITLE": f"title {did}", "ARTIST": f"artist {did % 5}"}
                fam = did % 4
                if fam == 0:
                    blob = add_flac_tags(encode_flac(pcm, 8000, 16), tags)
                elif fam == 1:
                    blob = encode_ogg_tags(tags)
                elif fam == 2:
                    blob = encode_id3(
                        {"TIT2": tags["TITLE"], "TPE1": tags["ARTIST"]}, 4
                    ) + encode_mp3_frames(2)
                else:
                    blob = encode_mp3_frames(2)
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    tagged = attach_audio_tags(blobs, "blob", "doc_id")
    return tagged.select(
        "doc_id",
        F.coalesce(
            F.col("tags")["TITLE"], F.col("tags")["TIT2"]
        ).alias("title"),
        F.coalesce(
            F.col("tags")["ARTIST"], F.col("tags")["TPE1"]
        ).alias("artist"),
        F.size("tags").alias("n_tags"),
    ).orderBy("doc_id")


ORACLE_Q142 = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE 'title ' || doc_id END AS title,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE 'artist ' || (doc_id % 5) END AS artist,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 2 END AS INT) AS n_tags
FROM documents
WHERE doc_id < 40
ORDER BY doc_id
"""


def q143_luhn_card_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated payment-card redaction under the oracle
    (round 8): 40 docs each embed one 16-digit number whose check
    digit is CORRECT for even doc_ids and corrupted (+5 mod 10) for
    odd — shape-identical either way, so a regex-only redactor would
    burn both. `redact_card_numbers` Luhn-validates every candidate
    and redacts only the real ones. BOTH engines construct the number
    AND replay the checksum with the same integer algebra (reverse →
    double-every-second → 2d−9·(d>4) → mod 10), so the oracle gates
    the Luhn arithmetic itself, the candidate extraction, and the
    targeted replacement.

    Scale shape: one expression tree per row (regexp_extract_all +
    array algebra + aggregate-replace), zero Python, zero shuffle
    until the 40-row orderBy."""
    from sif_spark.operators.text import redact_card_numbers

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )
    base = F.concat(
        F.lit("4"), F.lpad(F.col("doc_id").cast("string"), 14, "0")
    )
    # Luhn partial over the 15 base digits: with the check digit at
    # position 0 from the right, base digit i0 (0-based from the
    # right of BASE) sits at full position i0+1 → doubled when i0
    # is even
    chars = F.split(F.reverse(base), "")
    contrib = F.zip_with(
        chars,
        F.sequence(F.lit(0), F.lit(14)),
        lambda ch, i: F.when(
            i % 2 == 0,
            ch.cast("int") * 2 - F.when(ch.cast("int") > 4, 9).otherwise(0),
        ).otherwise(ch.cast("int")),
    )
    partial = F.aggregate(contrib, F.lit(0), lambda a, x: a + F.coalesce(x, F.lit(0)))
    check = (10 - partial % 10) % 10
    digit = F.when(
        F.col("doc_id") % 2 == 0, check
    ).otherwise((check + 5) % 10)
    text = F.format_string(
        "user %d paid %s%d today", F.col("doc_id"), base, digit
    )
    docs = d.select("doc_id", text.alias("text"))
    return redact_card_numbers(docs).orderBy("doc_id")


# Both engines build number = '4' || lpad(doc_id,14,'0') || check and
# replay the same Luhn algebra; even docs validate → redacted text,
# odd docs fail → text untouched.
ORACLE_Q143 = """
WITH d AS (
  SELECT doc_id, '4' || lpad(CAST(doc_id AS VARCHAR), 14, '0') AS base
  FROM documents WHERE doc_id < 40
),
luhn AS (
  SELECT doc_id, base,
         list_sum(list_transform(range(1, 16), i ->
           CASE WHEN (i - 1) % 2 = 0
                THEN CAST(reverse(base)[i] AS INT) * 2
                     - CASE WHEN CAST(reverse(base)[i] AS INT) > 4
                            THEN 9 ELSE 0 END
                ELSE CAST(reverse(base)[i] AS INT) END)) AS partial
  FROM d
),
built AS (
  SELECT doc_id, base,
         CASE WHEN doc_id % 2 = 0
              THEN (10 - partial % 10) % 10
              ELSE ((10 - partial % 10) % 10 + 5) % 10 END AS digit
  FROM luhn
)
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_card_candidates,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_cards,
       CASE WHEN doc_id % 2 = 0
            THEN 'user ' || doc_id || ' paid <CARD> today'
            ELSE 'user ' || doc_id || ' paid ' || base || digit || ' today'
       END AS text
FROM built
ORDER BY doc_id
"""


EXT2_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q89_line_dedup": q89_line_dedup,
    "q90_gopher_quality": q90_gopher_quality,
    "q91_sessions": q91_sessions,
    "q92_event_pivot": q92_event_pivot,
    "q93_value_outliers": q93_value_outliers,
    "q94_order_count_histogram": q94_order_count_histogram,
    "q95_token_mixture": q95_token_mixture,
    "q96_late_shipment_priorities": q96_late_shipment_priorities,
    "q97_duplication_profile": q97_duplication_profile,
    "q98_pipeline_declarative": q98_pipeline_declarative,
    "q99_fixed_width_roundtrip": q99_fixed_width_roundtrip,
    "q100_grouping_sets": q100_grouping_sets,
    "q101_gopher_repetition": q101_gopher_repetition,
    "q102_local_supplier_volume": q102_local_supplier_volume,
    "q103_returned_item_revenue": q103_returned_item_revenue,
    "q104_salted_join": q104_salted_join,
    "q105_boilerplate_strip": q105_boilerplate_strip,
    "q106_streaming_outliers": q106_streaming_outliers,
    "q107_common_token_score": q107_common_token_score,
    "q108_robust_outliers": q108_robust_outliers,
    "q109_pq_rerank_knn": q109_pq_rerank_knn,
    "q110_media_decode": q110_media_decode,
    "q111_large_order_customers": q111_large_order_customers,
    "q112_waiting_suppliers": q112_waiting_suppliers,
    "q113_approx_percentiles": q113_approx_percentiles,
    "q114_stream_enrich": q114_stream_enrich,
    "q115_correlated_scalar_subqueries": q115_correlated_scalar_subqueries,
    "q116_dominant_part_suppliers": q116_dominant_part_suppliers,
    "q117_rich_idle_customers": q117_rich_idle_customers,
    "q118_salted_stream_agg": q118_salted_stream_agg,
    "q119_daily_ingest": q119_daily_ingest,
    "q120_gif_frame_sampling": q120_gif_frame_sampling,
    "q121_tolerant_decode": q121_tolerant_decode,
    "q122_avi_frame_sampling": q122_avi_frame_sampling,
    "q123_media_probe": q123_media_probe,
    "q124_flac_roundtrip": q124_flac_roundtrip,
    "q125_image_preprocess": q125_image_preprocess,
    "q126_audio_frame_features": q126_audio_frame_features,
    "q127_image_near_dup": q127_image_near_dup,
    "q128_scene_cuts": q128_scene_cuts,
    "q129_mp4_sampling": q129_mp4_sampling,
    "q130_span_dedup": q130_span_dedup,
    "q131_y4m_sampling": q131_y4m_sampling,
    "q132_srt_alignment": q132_srt_alignment,
    "q133_id3_curation": q133_id3_curation,
    "q134_mkv_probe": q134_mkv_probe,
    "q135_deterministic_split": q135_deterministic_split,
    "q136_webdataset_shards": q136_webdataset_shards,
    "q137_webdataset_export": q137_webdataset_export,
    "q138_scd2_history": q138_scd2_history,
    "q139_zip_shards": q139_zip_shards,
    "q140_media_census": q140_media_census,
    "q141_url_canonicalization": q141_url_canonicalization,
    "q142_audio_tag_curation": q142_audio_tag_curation,
    "q143_luhn_card_redaction": q143_luhn_card_redaction,
}

EXT2_ORACLES: dict[str, str] = {
    "q89_line_dedup": ORACLE_Q89,
    "q90_gopher_quality": ORACLE_Q90,
    "q91_sessions": ORACLE_Q91,
    "q92_event_pivot": ORACLE_Q92,
    "q93_value_outliers": ORACLE_Q93,
    "q94_order_count_histogram": ORACLE_Q94,
    "q95_token_mixture": ORACLE_Q95,
    "q96_late_shipment_priorities": ORACLE_Q96,
    "q97_duplication_profile": ORACLE_Q97,
    # the pipeline API must reproduce q69's composition exactly
    "q98_pipeline_declarative": _ORACLE_Q69_REF,
    "q99_fixed_width_roundtrip": _DSV_AGG_ORACLE_REF,
    "q100_grouping_sets": ORACLE_Q100,
    "q101_gopher_repetition": ORACLE_Q101,
    "q102_local_supplier_volume": ORACLE_Q102,
    "q103_returned_item_revenue": ORACLE_Q103,
    "q104_salted_join": ORACLE_Q104,
    "q105_boilerplate_strip": ORACLE_Q105,
    # single-batch stream == batch statistics: q93's SQL is exact
    "q106_streaming_outliers": ORACLE_Q93,
    "q107_common_token_score": ORACLE_Q107,
    "q108_robust_outliers": ORACLE_Q108,
    # q109's oracle (q11's exact-kNN SQL) is assigned by queries.py
    # post-merge — importing it here would make the queries <->
    # queries_ext2 import cycle order-dependent
    "q110_media_decode": ORACLE_Q110,
    "q111_large_order_customers": ORACLE_Q111,
    "q112_waiting_suppliers": ORACLE_Q112,
    "q113_approx_percentiles": ORACLE_Q113,
    "q114_stream_enrich": ORACLE_Q114,
    "q115_correlated_scalar_subqueries": ORACLE_Q115,
    "q116_dominant_part_suppliers": ORACLE_Q116,
    "q117_rich_idle_customers": ORACLE_Q117,
    "q118_salted_stream_agg": ORACLE_Q118,
    "q119_daily_ingest": ORACLE_Q119,
    "q120_gif_frame_sampling": ORACLE_Q120,
    "q121_tolerant_decode": ORACLE_Q121,
    "q122_avi_frame_sampling": ORACLE_Q122,
    "q123_media_probe": ORACLE_Q123,
    "q124_flac_roundtrip": ORACLE_Q124,
    "q125_image_preprocess": ORACLE_Q125,
    "q126_audio_frame_features": ORACLE_Q126,
    "q127_image_near_dup": ORACLE_Q127,
    "q128_scene_cuts": ORACLE_Q128,
    "q129_mp4_sampling": ORACLE_Q129,
    "q130_span_dedup": ORACLE_Q130,
    "q131_y4m_sampling": ORACLE_Q131,
    "q132_srt_alignment": ORACLE_Q132,
    "q133_id3_curation": ORACLE_Q133,
    "q134_mkv_probe": ORACLE_Q134,
    "q135_deterministic_split": ORACLE_Q135,
    "q136_webdataset_shards": ORACLE_Q136,
    "q137_webdataset_export": ORACLE_Q137,
    "q138_scd2_history": ORACLE_Q138,
    "q139_zip_shards": ORACLE_Q139,
    "q140_media_census": ORACLE_Q140,
    "q141_url_canonicalization": ORACLE_Q141,
    "q142_audio_tag_curation": ORACLE_Q142,
    "q143_luhn_card_redaction": ORACLE_Q143,
}


# ---------------------------------------------------------------------------
# q155 — the codec-INJECTION demonstration (round 9, VERDICT r8 ask #2):
# MPEG-1 Layer I audio decoded through the `decoder=` extension point.
# ---------------------------------------------------------------------------

# (fs, ch, period, frames_L, bitrate_kbps, crc, id3, amp) per doc_id%8.
# Periods divide 384 (whole periods per analysis window) and avoid
# subband-edge frequencies; amplitudes are fixture constants chosen so
# BOTH the clean-signal and decoded-signal features sit bucket-centered
# (joint margin >= 0.45 of a bucket, pinned in test_mpeg1.py) — the
# codec's measured error (~ -58 dB worst) plus the float32 matmul's
# cross-process reduction wobble (~3e-7) never flip a bucket.
_Q155_FAMS = [
    (48000, 1, 12, 6, 448, False, False, 0.384),
    (44100, 2, 24, 5, 448, True, False, 0.382),
    (32000, 1, 48, 7, 352, False, True, 0.630),
    (48000, 2, 6, 6, 448, False, False, 0.902),
    (44100, 1, 96, 8, 448, False, False, 0.434),
    (32000, 2, 12, 5, 352, True, False, 0.384),
    (48000, 1, 24, 9, 448, False, True, 0.382),
    (44100, 2, 48, 6, 448, False, False, 0.630),
]


def q155_mpeg1_injected_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The injected-codec path, demonstrated end to end with a REAL
    compressed-audio codec (round 9): 24 docs get MPEG-1 Layer I
    streams (sine fixtures over 3 sample rates x mono/stereo x 2
    bitrates, CRC-protected frames and ID3v2 prefixes included)
    authored by `mpeg1.encode_mpeg1_layer1`, then decoded through
    `audio_frame_features(..., decoder=mpeg1_decoder)` — the SAME
    `decoder=` plumbing a user injects a native codec into at 100 TB
    (`media_decoder` itself still refuses MPEG audio, pinned in
    tests). Per gated frame (onset/tail transients excluded) the
    oracle checks zero-crossing count EXACTLY (the tone's frequency
    survives the codec bit-for-bit at these margins) and peak/energy
    in wide buckets (shiftright 8/33) whose expected values are
    closed-form from the clean fixture signal.

    Scale notes: one Arrow-batched mapInPandas author stage + one
    mapInPandas decode stage (FlatMap shape), no shuffle; decode is
    batched NumPy at ~2.4 MB/s/core of bitstream (43x realtime
    stereo, SCALE.md). Reference: the custom-column decode ambition
    (column_type.go:16-23) + whole-file Decoder pre-pass
    (file_datasource.go:24-28)."""
    import numpy as np
    import pandas as pd

    from sif_spark.operators import mpeg1 as mp1
    from sif_spark.operators.audio import audio_frame_features
    from sif_spark.operators.probe import encode_id3

    d = read_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 24
    )

    def gen(batches):
        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                fs, ch, per, nl, br, crc, id3, amp = _Q155_FAMS[did % 8]
                t = np.arange(384 * nl)
                x = amp * np.sin(2 * np.pi * (t % per) / per + np.pi / per)
                if ch == 2:
                    x = np.stack([x, 0.5 * x], axis=1)
                blob = mp1.encode_mpeg1_layer1(x, fs, br, protection=crc)
                if id3:
                    blob = encode_id3({"TIT2": f"doc{did}"}, 4) + blob
                recs.append((did, blob))
            yield pd.DataFrame(recs, columns=["doc_id", "blob"])

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    feats = audio_frame_features(
        blobs, "blob", "doc_id", frame_samples=384, decoder=mp1.mpeg1_decoder
    )
    n_gate = F.element_at(
        F.array(*[F.lit(f[3]) for f in _Q155_FAMS]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    return (
        feats.filter(
            (F.col("frame_idx") >= 1) & (F.col("frame_idx") <= n_gate - 2)
        )
        .select(
            "doc_id",
            "frame_idx",
            "zcr",
            F.shiftright("peak", 8).alias("peak_bucket"),
            F.shiftright("energy", 33).alias("energy_bucket"),
        )
        .orderBy("doc_id", "frame_idx")
    )


# fam table (f, L, zcr, pb, eb): closed-form features of the clean
# fixture tone per family — see _Q155_FAMS and the margin pin test.
ORACLE_Q155 = """
WITH d AS (SELECT doc_id, doc_id % 8 AS f FROM documents WHERE doc_id < 24),
fam AS (
  SELECT * FROM (VALUES
    (0, 6, 63, 47, 3), (1, 5, 31, 48, 3), (2, 7, 15, 80, 9),
    (3, 6, 127, 115, 19), (4, 8, 7, 55, 4), (5, 5, 63, 47, 3),
    (6, 9, 31, 48, 3), (7, 6, 15, 80, 9)
  ) AS t(f, nl, zcr, pb, eb)
)
SELECT doc_id, CAST(g AS INT) AS frame_idx, CAST(zcr AS INT) AS zcr,
       CAST(pb AS INT) AS peak_bucket, CAST(eb AS BIGINT) AS energy_bucket
FROM d JOIN fam USING (f), range(1, 16) r(g)
WHERE g <= nl - 2
ORDER BY doc_id, frame_idx
"""

# q155 registers in queries.py AFTER the TPCH (q144-q154) merge so the
# catalog's tail stays strictly q-number-ordered (the driver-window pin
# in tests/test_plans.py).
