"""Driver correctness registry: Spark queries paired with DuckDB oracle SQL.

Each entry runs the engine's relational core over the driver's parquet
tables (``documents``, ``events``, ``embeddings`` — TESTDATA.md) and is
mirrored by ANSI SQL that DuckDB executes on the same files; the driver
compares row counts, schema names, and order-insensitive value hashes.

Tokenization here is the SQL-expressible layer (lower + non-alphanumeric
split) so both engines compute identical tokens; the reference-exact
pipeline (3-step stemmer, stopwords, byte-identical extraction) is gated
separately by the pytest oracle-parity suite (tests/test_spark_index.py),
since Java-quirk stemming is not reasonably expressible in portable SQL.

Determinism rules used throughout:
- every float is rounded (6-12 dp) on BOTH sides before comparison;
- every top-k orders by (rounded score DESC, doc_id ASC) on BOTH sides so
  the selected row SET is identical despite float noise;
- aggregates over ints stay exact; only log/exp/sqrt paths need rounding.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators import score

# shared constants — keep the SQL strings and Spark exprs in lockstep.  The
# BM25 pair feeds only the oracle SQL, an independent copy on purpose: the
# Spark side scores through the engine's ``functions.bm25``.
BM25_K1 = 1.2
BM25_B = 0.75
QL_BETA = 0.5
QUERY_TERMS = ["spark", "join", "data"]  # conjunctive gate query
DISJ_TERMS = ["stream", "sort"]
PHRASE = ("data", "query")
STOPSET = ["the", "a", "of", "and", "to", "is", "in", "it"]

# --------------------------------------------------------------------------
# shared building blocks
# --------------------------------------------------------------------------

def _toks():
    # built lazily: Column construction needs an active SparkContext
    return F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
        " ",
    )

_SQL_TOKS = (
    "string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ')"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, term) exploded tokens — posexplode keeps the array
    index as the position, identical to the oracle's generate_subscripts."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(_toks()).alias("pos", "term"))
        .where(F.col("term") != "")
    )


_SQL_TOK_CTE = f"""
tok AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
)"""


def _postings(spark, sf_dir) -> DataFrame:
    """(term, doc_id, tf) — the gate analogue of A1/A2."""
    return _tok(spark, sf_dir).groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


_SQL_POSTINGS_CTE = (
    _SQL_TOK_CTE
    + """,
postings AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf
  FROM tok WHERE term <> '' GROUP BY term, doc_id
)"""
)


def _doclen(spark, sf_dir) -> DataFrame:
    return _tok(spark, sf_dir).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("doc_len")
    )


_SQL_DOCLEN_CTE = (
    _SQL_TOK_CTE
    + """,
doclen AS (
  SELECT doc_id, count(*)::BIGINT AS doc_len
  FROM tok WHERE term <> '' GROUP BY doc_id
)"""
)


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------


def q_postings_tf(spark, sf_dir):
    """A1/A2 — inverted postings (term, doc_id, tf)."""
    return _postings(spark, sf_dir)


SQL_POSTINGS_TF = f"WITH {_SQL_POSTINGS_CTE} SELECT term, doc_id, tf FROM postings"


def q_term_stats(spark, sf_dir):
    """A5/A6 — per-term document frequency and collection term frequency."""
    return (
        _postings(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("ctf"),
        )
    )


SQL_TERM_STATS = f"""WITH {_SQL_POSTINGS_CTE}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ctf
FROM postings GROUP BY term"""


def q_doc_stats(spark, sf_dir):
    """A3 — kept-token document length."""
    return _doclen(spark, sf_dir)


SQL_DOC_STATS = f"WITH {_SQL_DOCLEN_CTE} SELECT doc_id, doc_len FROM doclen"


def q_collection_stats(spark, sf_dir):
    """A4 — (num_docs, total_terms, avgdl); avgdl = exact-int division."""
    docs = _docs(spark, sf_dir).select(F.count(F.lit(1)).alias("num_docs"))
    toks = _tok(spark, sf_dir).agg(F.count(F.lit(1)).alias("total_terms"))
    return docs.crossJoin(toks).select(
        F.col("num_docs").cast("long").alias("num_docs"),
        F.col("total_terms").cast("long").alias("total_terms"),
        F.round(
            F.col("total_terms").cast("double") / F.col("num_docs"), 6
        ).alias("avgdl"),
    )


SQL_COLLECTION_STATS = f"""WITH {_SQL_TOK_CTE}
SELECT (SELECT count(*)::BIGINT FROM documents) AS num_docs,
       count(*)::BIGINT AS total_terms,
       round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 6) AS avgdl
FROM tok WHERE term <> ''"""


def q_conjunctive_match(spark, sf_dir):
    """Q1/Q3 — docs containing ALL gate query terms."""
    p = _postings(spark, sf_dir).where(F.col("term").isin(QUERY_TERMS))
    return (
        p.groupBy("doc_id")
        .agg(F.count_distinct("term").alias("n_hit"))
        .where(F.col("n_hit") == len(QUERY_TERMS))
        .select("doc_id")
    )


_terms_sql = ",".join(f"'{t}'" for t in QUERY_TERMS)
_fullscan_terms = _terms_sql
SQL_CONJUNCTIVE_MATCH = f"""WITH {_SQL_POSTINGS_CTE}
SELECT doc_id FROM postings WHERE term IN ({_terms_sql})
GROUP BY doc_id HAVING count(DISTINCT term) = {len(QUERY_TERMS)}"""


def q_disjunctive_match(spark, sf_dir):
    """Q1 disjunctive — docs containing ANY of the terms, with hit count."""
    p = _postings(spark, sf_dir).where(F.col("term").isin(DISJ_TERMS))
    return p.groupBy("doc_id").agg(
        F.count_distinct("term").alias("n_hit"),
        F.sum("tf").cast("long").alias("sum_tf"),
    )


_dterms_sql = ",".join(f"'{t}'" for t in DISJ_TERMS)
SQL_DISJUNCTIVE_MATCH = f"""WITH {_SQL_POSTINGS_CTE}
SELECT doc_id, count(DISTINCT term) AS n_hit, sum(tf)::BIGINT AS sum_tf
FROM postings WHERE term IN ({_dterms_sql}) GROUP BY doc_id"""


def q_bm25_topk(spark, sf_dir):
    """R1-slot headline: BM25 (k1=1.2, b=0.75, Lucene idf) conjunctive
    top-10 through the engine's ``score.bm25_scores``; ordered by rounded
    score then doc_id on both sides."""
    p = _postings(spark, sf_dir).where(F.col("term").isin(QUERY_TERMS))
    dl = _doclen(spark, sf_dir)
    docs_n = _docs(spark, sf_dir).count()
    avgdl = _tok(spark, sf_dir).count() / docs_n
    tp = p.join(dl, "doc_id").select(
        F.col("term").alias("token"), "doc_id", "tf", F.col("doc_len").alias("dl")
    )
    scored = score.bm25_scores(tp, QUERY_TERMS, docs_n, avgdl).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


SQL_BM25_TOPK = f"""WITH {_SQL_POSTINGS_CTE},
doclen AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM postings GROUP BY doc_id),
consts AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT sum(tf) FROM postings)::DOUBLE
           / (SELECT count(*) FROM documents) AS avgdl
),
qp AS (SELECT * FROM postings WHERE term IN ({_terms_sql})),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM qp GROUP BY term),
scored AS (
  SELECT qp.doc_id,
         round(sum(
           ln(1.0 + (consts.n - ts.df + 0.5) / (ts.df + 0.5))
           * qp.tf * {BM25_K1 + 1.0}
           / (qp.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * doclen.doc_len / consts.avgdl))
         ), 6) AS score,
         count(DISTINCT qp.term) AS n_hit
  FROM qp JOIN doclen USING (doc_id) JOIN ts USING (term), consts
  GROUP BY qp.doc_id
)
SELECT doc_id, score FROM scored WHERE n_hit = {len(QUERY_TERMS)}
ORDER BY score DESC, doc_id ASC LIMIT 10"""


def q_fullscan_topk(spark, sf_dir):
    """R8 — full-scan ranker (RankerFullScan.java:25-61): every doc scored
    1.0 if its title tokens (gate proxy: first 8 text tokens) hit any gate
    query term, else 0.0; stable reverse sort (score desc, doc_id asc).
    One codegen'd projection + TakeOrdered — no join, no shuffle."""
    d = _docs(spark, sf_dir)
    title_arr = F.slice(_toks(), 1, 8)
    qarr = F.array(*[F.lit(t) for t in QUERY_TERMS])
    scored = d.select(
        "doc_id",
        F.when(F.arrays_overlap(title_arr, qarr), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


SQL_FULLSCAN_TOPK = f"""WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN len(list_intersect(toks[1:8], [{_fullscan_terms}])) > 0
            THEN 1.0 ELSE 0.0 END::DOUBLE AS score
FROM t ORDER BY score DESC, doc_id ASC LIMIT 20"""


def q_ql_topk(spark, sf_dir):
    """Reference QL (β=0.5, RankerComprehensive.java:43-53) conjunctive
    top-10 over the gate tokenization."""
    p = _postings(spark, sf_dir).where(F.col("term").isin(QUERY_TERMS))
    dl = _doclen(spark, sf_dir)
    all_p = _postings(spark, sf_dir)
    ctf = (
        all_p.where(F.col("term").isin(QUERY_TERMS))
        .groupBy("term")
        .agg(F.sum("tf").cast("double").alias("ctf"))
    )
    total_terms = int(
        _tok(spark, sf_dir).agg(F.count(F.lit(1))).head()[0]
    )
    factor = F.lit(1.0 - QL_BETA) * F.col("tf") / F.col("doc_len") + F.lit(
        QL_BETA
    ) * F.col("ctf") / F.lit(float(total_terms))
    scored = (
        p.join(dl, "doc_id")
        .join(F.broadcast(ctf), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.exp(F.sum(F.log(factor))), 12).alias("score"),
            F.count_distinct("term").alias("n_hit"),
        )
        .where(F.col("n_hit") == len(QUERY_TERMS))
        .select("doc_id", "score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


SQL_QL_TOPK = f"""WITH {_SQL_POSTINGS_CTE},
doclen AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM postings GROUP BY doc_id),
tot AS (SELECT sum(tf)::DOUBLE AS c FROM postings),
qp AS (SELECT * FROM postings WHERE term IN ({_terms_sql})),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM qp GROUP BY term),
scored AS (
  SELECT qp.doc_id,
         round(exp(sum(ln(
           {1.0 - QL_BETA} * qp.tf / doclen.doc_len + {QL_BETA} * ctf.ctf / tot.c
         ))), 12) AS score,
         count(DISTINCT qp.term) AS n_hit
  FROM qp JOIN doclen USING (doc_id) JOIN ctf USING (term), tot
  GROUP BY qp.doc_id
)
SELECT doc_id, score FROM scored WHERE n_hit = {len(QUERY_TERMS)}
ORDER BY score DESC, doc_id ASC LIMIT 10"""


def q_phrase_match(spark, sf_dir):
    """Q4/Q5 — positional adjacency: phrase tf for '{p0} {p1}' per doc."""
    t = _tok(spark, sf_dir)
    a = t.where(F.col("term") == PHRASE[0]).select("doc_id", F.col("pos").alias("p0"))
    b = t.where(F.col("term") == PHRASE[1]).select("doc_id", F.col("pos").alias("p1"))
    return (
        a.join(b, "doc_id")
        .where(F.col("p1") == F.col("p0") + 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("phrase_tf"))
    )


SQL_PHRASE_MATCH = f"""WITH {_SQL_TOK_CTE}
SELECT a.doc_id, count(*)::BIGINT AS phrase_tf
FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
GROUP BY a.doc_id"""


def q_cosine_topk(spark, sf_dir):
    """R2 — tf-idf cosine VSM (idf = 1 + log2(N/df), hw1 Ranker.java:57-114)
    top-10 for the gate query (qtf = 1 per term)."""
    p = _postings(spark, sf_dir)
    n = _docs(spark, sf_dir).count()
    ts = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.lit(1.0) + F.log2(F.lit(float(n)) / F.col("df"))
    weighted = p.join(ts, "term").select(
        "term", "doc_id", (F.col("tf") * idf).alias("w")
    )
    norm = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm")
    )
    qnorm = float(len(QUERY_TERMS)) ** 0.5
    dot = (
        weighted.where(F.col("term").isin(QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("dot"))
    )
    scored = dot.join(norm, "doc_id").select(
        "doc_id",
        F.round(F.col("dot") / (F.col("dnorm") * F.lit(qnorm)), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


SQL_COSINE_TOPK = f"""WITH {_SQL_POSTINGS_CTE},
ts AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
weighted AS (
  SELECT p.term, p.doc_id, p.tf * (1.0 + log2(n.n / ts.df)) AS w
  FROM postings p JOIN ts USING (term), n
),
norm AS (SELECT doc_id, sqrt(sum(w*w)) AS dnorm FROM weighted GROUP BY doc_id),
dot AS (
  SELECT doc_id, sum(w) AS dot FROM weighted
  WHERE term IN ({_terms_sql}) GROUP BY doc_id
)
SELECT dot.doc_id,
       round(dot.dot / (norm.dnorm * sqrt({float(len(QUERY_TERMS))})), 6) AS score
FROM dot JOIN norm USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5 over the normalized token stream; groups with the
    canonical (min) doc_id and the duplicate count."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(
            F.trim(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
            ).cast("binary")
        ).alias("fp"),
    )
    return d.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))) AS fp,
       min(doc_id) AS canonical_doc_id, count(*)::BIGINT AS n_docs
FROM documents GROUP BY 1"""


def q_lang_id(spark, sf_dir):
    """Heuristic language ID: stopword-hit ratio over tokens (T-analysis);
    threshold 0.02 -> 'en_like' else 'other'."""
    t = _tok(spark, sf_dir)
    agg = t.groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("term").isin(STOPSET), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("stop_ratio")
    )
    return agg.select(
        "doc_id",
        "stop_ratio",
        F.when(F.col("stop_ratio") >= 0.02, F.lit("en_like"))
        .otherwise(F.lit("other"))
        .alias("pred_lang"),
    )


_stop_sql = ",".join(f"'{s}'" for s in STOPSET)
SQL_LANG_ID = f"""WITH {_SQL_TOK_CTE}
SELECT doc_id,
       round(sum(CASE WHEN term IN ({_stop_sql}) THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS stop_ratio,
       CASE WHEN sum(CASE WHEN term IN ({_stop_sql}) THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE >= 0.02
            THEN 'en_like' ELSE 'other' END AS pred_lang
FROM tok WHERE term <> '' GROUP BY doc_id"""


def q_quality_score(spark, sf_dir):
    """Text quality features per doc: token count, distinct ratio, mean
    token length, and a blended quality score."""
    t = _tok(spark, sf_dir)
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(
            F.count_distinct("term") / F.count(F.lit(1)).cast("double"), 6
        ).alias("distinct_ratio"),
        F.round(F.avg(F.length("term")), 6).alias("mean_tok_len"),
        F.round(
            F.least(F.count(F.lit(1)).cast("double") / F.lit(100.0), F.lit(1.0))
            * (F.count_distinct("term") / F.count(F.lit(1)).cast("double")),
            6,
        ).alias("quality"),
    )


SQL_QUALITY_SCORE = f"""WITH {_SQL_TOK_CTE}
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(count(DISTINCT term) / count(*)::DOUBLE, 6) AS distinct_ratio,
       round(avg(length(term)), 6) AS mean_tok_len,
       round(least(count(*)::DOUBLE / 100.0, 1.0)
             * (count(DISTINCT term) / count(*)::DOUBLE), 6) AS quality
FROM tok WHERE term <> '' GROUP BY doc_id"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of the normalized token stream + 64-bit
    prefix as a numeric fingerprint (both engines: first 15 hex digits)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(
            F.trim(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
            ).cast("binary")
        ).alias("fp_hex"),
    )
    return d.select(
        "doc_id",
        "fp_hex",
        F.conv(F.substring("fp_hex", 1, 15), 16, 10).cast("long").alias("fp64"),
    )


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))) AS fp_hex,
       CAST(('0x' || substr(md5(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))),1,15)) AS BIGINT) AS fp64
FROM documents"""


def q_events_windowed(spark, sf_dir):
    """Streaming analog (batch equivalence of the tumbling-window agg the
    Structured Streaming wrapper runs): 1-hour windows by event_type."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = F.window("ts", "1 hour")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_WINDOWED = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2"""


def q_numviews_last(spark, sf_dir):
    """G3 analog (LogMinerNumviews last-match-wins): last event value per
    (user_id, event_type) by timestamp."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy("user_id", "event_type").agg(
        F.round(F.max_by("value", "ts"), 6).alias("last_value"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


SQL_NUMVIEWS_LAST = """
SELECT user_id, event_type, round(arg_max(value, ts), 6) AS last_value,
       count(*)::BIGINT AS n
FROM events GROUP BY 1, 2"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable, str | None]] = {
    "postings_tf": (q_postings_tf, SQL_POSTINGS_TF),
    "term_stats": (q_term_stats, SQL_TERM_STATS),
    "doc_stats": (q_doc_stats, SQL_DOC_STATS),
    "collection_stats": (q_collection_stats, SQL_COLLECTION_STATS),
    "conjunctive_match": (q_conjunctive_match, SQL_CONJUNCTIVE_MATCH),
    "disjunctive_match": (q_disjunctive_match, SQL_DISJUNCTIVE_MATCH),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "fullscan_topk": (q_fullscan_topk, SQL_FULLSCAN_TOPK),
    "ql_topk": (q_ql_topk, SQL_QL_TOPK),
    "phrase_match": (q_phrase_match, SQL_PHRASE_MATCH),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "events_windowed": (q_events_windowed, SQL_EVENTS_WINDOWED),
    "numviews_last": (q_numviews_last, SQL_NUMVIEWS_LAST),
}


def _full_registry() -> dict[str, tuple[Callable, str | None]]:
    from websearchengine_spark.plans import (
        registry_ads,
        registry_ext,
        registry_pipeline,
        registry_quality,
        registry_rankers,
        registry_ref,
        registry_traindata,
        registry_webdata,
    )

    return {
        **REGISTRY,
        **registry_ext.EXT_REGISTRY,
        **registry_ref.REF_REGISTRY,
        **registry_ads.ADS_REGISTRY,
        **registry_rankers.RANKERS_REGISTRY,
        **registry_webdata.WEBDATA_REGISTRY,
        **registry_traindata.TRAINDATA_REGISTRY,
        **registry_pipeline.PIPELINE_REGISTRY,
        **registry_quality.QUALITY_REGISTRY,
    }


def queries() -> dict[str, Callable]:
    return {name: fn for name, (fn, _) in _full_registry().items()}


def oracle_sql() -> dict[str, str]:
    """Registry values may be a SQL string or a zero-arg callable that
    generates one (gates whose SQL embeds data-derived literals, e.g. the
    IVF centroid matrix); a callable returning None falls back to the
    driver's rows-only check."""
    out: dict[str, str] = {}
    for name, (_, sql) in _full_registry().items():
        if callable(sql):
            try:
                sql = sql()
            except Exception:
                sql = None
        if sql:
            out[name] = sql
    return out
