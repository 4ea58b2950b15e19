"""Training-data text pipeline: decontamination, tf-idf, repetition,
vocabulary — the corpus-statistics operators a pre-training run needs
beyond dedup (operators/llm.py).

Every operator is shuffle-frugal by construction:
- decontamination pairs ONLY on shared shingles (inverted-index
  semi-join; the held-out side is the small side and broadcasts);
- tf-idf is two aggregations plus a broadcast of the per-token
  document frequencies (vocabulary-sized, not corpus-sized);
- repetition score is pure map-side column algebra;
- vocabulary build is one partial+final aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pcap_to_parquet_spark.functions.text import (
    SHINGLES_SQL,
    WHITESPACE_TOKENS_SQL,
    shingles,
    whitespace_tokens,
)
from pcap_to_parquet_spark.functions.vectors import cosine_similarity
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_table, fan_out

# the md5 split gate, byte-identical to operators/llm.py train_test_split
_GATE_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100"


# ---------------------------------------------------------------------------
# benchmark decontamination: train docs sharing any 3-gram with held-out docs

DECONTAMINATE_ORACLE = rf"""
WITH split AS (
    SELECT doc_id, text,
           CASE WHEN {_GATE_SQL} < 80 THEN 'train' ELSE 'heldout' END AS split
    FROM documents
),
tok AS (SELECT doc_id, split, {WHITESPACE_TOKENS_SQL} AS ws FROM split),
sh AS (
    SELECT DISTINCT doc_id, split, unnest({SHINGLES_SQL}) AS sh
    FROM tok WHERE len(ws) >= 3
),
heldout_sh AS (SELECT DISTINCT sh FROM sh WHERE split = 'heldout')
SELECT s.doc_id, COUNT(*) AS n_shared_shingles
FROM sh s
JOIN heldout_sh h ON s.sh = h.sh
WHERE s.split = 'train'
GROUP BY s.doc_id
"""


@query("q_decontaminate", DECONTAMINATE_ORACLE)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which TRAIN documents share any
    3-gram shingle with the held-out split (the eval-leak check every
    pre-training run does — n-gram overlap is the standard method).

    Shape at 100 TB: shingle both splits (map-only), dedup per doc,
    then join train shingles against the DISTINCT held-out shingle set
    — held-out is the small split (20%, and distinct shingles compress
    further), so it broadcasts; no all-pairs comparison ever exists.
    Returns one row per contaminated train doc with the overlap size
    (the triage metric real pipelines sort by)."""
    d = load_table(spark, sf_dir, "documents")
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    toks = fan_out(d).select(
        "doc_id",
        F.when(gate < 80, "train").otherwise("heldout").alias("split"),
        whitespace_tokens("text").alias("toks"),
    )
    sh = (
        toks.select("doc_id", "split", F.explode(shingles("toks", 3)).alias("sh"))
        .distinct()
    )
    heldout_sh = sh.filter(F.col("split") == "heldout").select("sh").distinct()
    return (
        sh.filter(F.col("split") == "train")
        .join(F.broadcast(heldout_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# tf-idf: top-5 terms per language

TFIDF_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, lang, unnest({WHITESPACE_TOKENS_SQL}) AS token
    FROM (SELECT doc_id, lang, text FROM documents)
),
tf AS (SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY lang, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
    SELECT tf.lang, tf.token, tf.tf, df.df,
           tf.tf * LN(n.n / df.df) AS score
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
),
ranked AS (
    SELECT lang, token, tf, df, score,
           ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY ROUND(score, 9) DESC, token) AS rn
    FROM scored
)
SELECT lang, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(score, 4) AS tfidf, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 5
"""


@query("q_tfidf_top_terms", TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by tf-idf (tf over the language's
    corpus slice, idf over all documents) — the term-weighting step of
    corpus analysis / quality filtering.

    Scale shape: two aggregations (tf keyed on (lang, token), df keyed
    on token). df output is vocabulary-sized — which by Heaps' law
    GROWS with the corpus (a 100 TB web corpus has ~1e8-1e9 distinct
    whitespace "words"), so the score join is a plain keyed hash join
    on token, NOT a forced broadcast: AQE picks broadcast while the
    table is small and falls back to shuffle-hash/sort-merge when it
    isn't (the q_ngram_lm_score discipline). Ranking partitions by
    lang with Spark's WindowGroupLimit pushing the top-5 heap below
    the shuffle.

    Ranking orders on ROUND(score, 9) in BOTH engines: DuckDB's libm
    log and the JVM's Math.log are each only ~1-ulp accurate and not
    bit-identical, so ranking on the raw double can order near-equal
    scores differently at the rn<=5 cutoff; pre-rounding removes the
    libm-parity dependence."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # one scalar to the driver, like any cost stat
    tok = fan_out(d).select(
        "doc_id", "lang", F.explode(whitespace_tokens("text")).alias("token")
    )
    tf = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "token").select(
        "lang",
        "token",
        "tf",
        "df",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(F.round("score", 9).desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "lang",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 4).alias("tfidf"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# within-document repetition score

REPETITION_ORACLE = rf"""
WITH tok AS (SELECT doc_id, {WHITESPACE_TOKENS_SQL} AS ws FROM documents),
sh AS (SELECT doc_id, {SHINGLES_SQL} AS shs FROM tok WHERE len(ws) >= 3)
SELECT doc_id,
       CAST(len(shs) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(shs)) AS BIGINT) AS n_distinct,
       ROUND(1.0 - len(list_distinct(shs))::DOUBLE / len(shs), 6) AS rep_ratio
FROM sh
"""


@query("q_repetition_score", REPETITION_ORACLE)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: 1 - distinct/total 3-gram shingles —
    the boilerplate/loop detector in quality filtering (heavily
    repeated documents hurt training). Pure map-side column algebra:
    zero shuffles at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select("doc_id", whitespace_tokens("text").alias("toks"))
    sh = toks.filter(F.size("toks") >= 3).select("doc_id", shingles("toks", 3).alias("shs"))
    total = F.size("shs").cast("bigint")
    distinct = F.size(F.array_distinct("shs")).cast("bigint")
    return sh.select(
        "doc_id",
        total.alias("n_shingles"),
        distinct.alias("n_distinct"),
        F.round(F.lit(1.0) - distinct.cast("double") / total, 6).alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# tokenizer vocabulary build

VOCAB_ORACLE = rf"""
WITH tok AS (
    SELECT unnest({WHITESPACE_TOKENS_SQL}) AS token
    FROM (SELECT text FROM documents)
),
counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token HAVING COUNT(*) >= 5)
SELECT token, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS vocab_id
FROM counts
"""


@query("q_vocab_build", VOCAB_ORACLE)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary: tokens with count >= 5, id-assigned by
    frequency rank (count desc, token asc — deterministic). The
    aggregation is partial+final (map-side combine carries one row per
    distinct token per partition); the final ranking operates on the
    vocabulary, which is orders of magnitude smaller than the corpus —
    the single-partition window here is over ~1e5-1e6 rows at ANY
    corpus size, which is exactly when a global window is fine."""
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select(F.explode(whitespace_tokens("text")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 5)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return counts.select(
        "token", "n", F.row_number().over(w).cast("bigint").alias("vocab_id")
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring for a fixed query term set

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("join", "filter")
_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

BM25_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, unnest({WHITESPACE_TOKENS_SQL}) AS token FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n FROM dl),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM tok
    WHERE token IN ({_TERMS_SQL}) GROUP BY doc_id, token
),
df AS (
    SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
    WHERE token IN ({_TERMS_SQL}) GROUP BY token
),
scored AS (
    SELECT tf.doc_id,
           SUM(LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1)
               / (tf.tf + {_BM25_K1}
                  * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))) AS score
    FROM tf
    JOIN df USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
    GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 4) AS bm25
FROM scored
ORDER BY ROUND(score, 9) DESC, doc_id
LIMIT 20
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) document scoring for a fixed query term
    set — the classical lexical retrieval ranker (the sparse half of a
    hybrid search pipeline, and the relevance filter of web-corpus
    curation). Returns ALL matching docs scored; q_bm25 takes the
    top-20 and q_rrf_fusion consumes the full ranking.

    Scale shape — ONE corpus scan: the query terms are a small fixed
    set, so each doc's per-term tf and its length dl are map-side
    column algebra (size/filter over the token array — no explode, no
    (doc, term) shuffle). Everything global — avgdl, N, and every
    term's df — is a single one-row aggregation, broadcast back; the
    score is then map-side and top-20 rides TakeOrderedAndProject.
    The naive explode → groupBy(doc, token) → join(dl) → join(df)
    formulation tokenizes the corpus FOUR times (duplicated DAG
    subtrees) and shuffles per-token rows; this shape scans once and
    shuffles one row. Ranking orders on ROUND(score, 9) for
    cross-libm determinism (same rule as q_tfidf_top_terms)."""
    d = load_table(spark, sf_dir, "documents")
    # name the token array as its own column so each downstream HOF
    # references one expression tree (codegen subexpression elimination
    # then evaluates the tokenization once per row; a projection alone
    # does not force it — CollapseProject inlines lazily)
    base = fan_out(d).select(
        "doc_id", whitespace_tokens("text").alias("toks")
    )
    def _tf(term: str):  # a 2-arg lambda would bind (element, INDEX)
        return F.size(F.filter("toks", lambda t: t == F.lit(term)))

    tf_cols = [_tf(term).alias(f"tf_{i}") for i, term in enumerate(_BM25_TERMS)]
    feats = base.select(
        "doc_id", F.size("toks").alias("dl"), *tf_cols
    )
    stats = feats.agg(
        F.avg("dl").alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    term_score = [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
            )
            * F.col(f"tf_{i}")
            * (_BM25_K1 + 1)
            / (
                F.col(f"tf_{i}")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        ).otherwise(F.lit(0.0))
        for i in range(len(_BM25_TERMS))
    ]
    scored = (
        feats.filter(
            sum((F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))), F.lit(0)) > 0
        )
        .crossJoin(F.broadcast(stats))
        .select("doc_id", sum(term_score[1:], term_score[0]).alias("score"))
    )
    return scored


@query("q_bm25", BM25_ORACLE)
def bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BM25 ranking — see :func:`_bm25_scored` for the scoring
    shape; this adds only TakeOrderedAndProject (top-k per partition,
    no global sort)."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.round("score", 9).desc(), "doc_id")
        .limit(20)
        .select("doc_id", F.round("score", 4).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# PII scrubbing: redact emails, count redactions

# conservative email shape, identical semantics in Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

# the corpus is synthetic word soup with no PII, so both engines seed
# deterministic emails derived from doc_id (1 for odd ids, 2 for even)
# — the regex, the replacement, and the count are what's under test
_SEED_SQL = """
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org now'
         || CASE WHEN doc_id % 2 = 0 THEN ' cc bob@corp.net' ELSE '' END
"""

PII_SCRUB_ORACLE = rf"""
WITH seeded AS (SELECT doc_id, {_SEED_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_redactions,
       md5(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g')) AS scrubbed_md5
FROM seeded
"""


@query("q_pii_scrub", PII_SCRUB_ORACLE)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact every email address, report the redaction
    count and the md5 of the scrubbed text (the oracle checks the
    scrubbed BYTES, not just counts — a mis-spanned match changes the
    hash). Map-only column algebra: regexp_replace + regexp_count are
    JVM-side, zero shuffles at any corpus size.

    The pattern is restricted to the regex intersection of Java and
    RE2 (no lookaround/backrefs) so both engines match identical
    spans; DuckDB needs the 'g' flag for global replace where Spark's
    regexp_replace is global by default."""
    d = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@ex"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".org now"),
        F.when(F.col("doc_id") % 2 == 0, " cc bob@corp.net").otherwise(""),
    )
    seeded = fan_out(d).select("doc_id", t.alias("t"))
    return seeded.select(
        "doc_id",
        F.regexp_count("t", F.lit(_EMAIL_RE)).cast("bigint").alias("n_redactions"),
        F.md5(F.regexp_replace("t", _EMAIL_RE, "[EMAIL]")).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# URL/domain extraction and ranking

_URL_RE = r"https?://([A-Za-z0-9.-]+)"

URL_EXTRACT_ORACLE = rf"""
WITH seeded AS (
    SELECT doc_id,
           text || ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
                || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS t
    FROM documents
)
SELECT regexp_extract(t, '{_URL_RE}', 1) AS domain,
       COUNT(*) AS n_refs,
       COUNT(DISTINCT doc_id) AS n_docs
FROM seeded
GROUP BY domain
"""


@query("q_url_extract", URL_EXTRACT_ORACLE)
def url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain extraction + ranking: pull the host out of each doc's
    URL and aggregate reference counts per domain — the
    provenance-analysis / domain-blocklist step of web-corpus
    curation. Seeded URLs (word-soup corpus has none); the regex
    group extraction is what's under test, same capture-group
    semantics in Java regex and RE2.

    Map-side extract, then one partial+final agg keyed on domain —
    domain cardinality is web-scale-small relative to the corpus, so
    the shuffle carries the aggregated skeleton."""
    d = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" see https://site"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    seeded = fan_out(d).select("doc_id", t.alias("t"))
    return (
        seeded.select("doc_id", F.regexp_extract("t", _URL_RE, 1).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# document length histogram

_HIST_BUCKET = 10

LENGTH_HISTOGRAM_ORACLE = rf"""
WITH n AS (
    SELECT len({WHITESPACE_TOKENS_SQL}) AS n_toks FROM documents
)
SELECT CAST(n_toks // {_HIST_BUCKET} * {_HIST_BUCKET} AS BIGINT) AS bucket_lo,
       COUNT(*) AS n_docs
FROM n
GROUP BY bucket_lo
"""


@query("q_length_histogram", LENGTH_HISTOGRAM_ORACLE)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (bucket width 10): the length-distribution
    profile every corpus report starts with. All-integer bucket
    arithmetic → exact oracle comparison. Map-side bucket assignment +
    one agg whose output is histogram-sized: the full profile of a
    100 TB corpus shuffles a few hundred rows."""
    d = load_table(spark, sf_dir, "documents")
    n_toks = F.size(whitespace_tokens("text"))
    bucket = (F.floor(n_toks / _HIST_BUCKET) * _HIST_BUCKET).cast("bigint")
    return (
        fan_out(d)
        .select(bucket.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# bigram-LM quality score: the CCNet-style perplexity filter,
# self-contained (LM trained on the corpus itself)

_LM_ALPHA = 0.5

NGRAM_LM_ORACLE = rf"""
WITH toks AS (SELECT doc_id, {WHITESPACE_TOKENS_SQL} AS ts FROM documents),
uni AS (SELECT unnest(ts) AS w FROM toks),
ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
v AS (SELECT COUNT(*) AS nv FROM ucnt),
big AS (
    SELECT doc_id, ts[i] AS w1, ts[i] || '|' || ts[i + 1] AS bg
    FROM toks, UNNEST(range(1, len(ts))) AS r(i)
),
bcnt AS (SELECT bg, COUNT(*) AS c FROM big GROUP BY bg),
scored AS (
    SELECT b.doc_id,
           ln((bc.c + {_LM_ALPHA}) / (uc.c + {_LM_ALPHA} * v.nv)) AS lp
    FROM big b
    JOIN bcnt bc USING (bg)
    JOIN ucnt uc ON uc.w = b.w1
    CROSS JOIN v
)
SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 6) AS avg_logp
FROM scored
GROUP BY doc_id
"""


@query("q_ngram_lm_score", NGRAM_LM_ORACLE)
def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score per document — the LM-based
    quality filter of CCNet-style curation pipelines, self-contained by
    training the LM on the corpus being scored. Score = mean log
    P(w2|w1) over the document's bigrams with add-α smoothing
    (α={alpha}, vocabulary-normalized), i.e. negative cross-entropy;
    low scores flag machine-generated/low-quality text.

    Shape at 100 TB: bigram extraction is MAP-SIDE column algebra
    (aligned-slice shingles, no HOF lambdas, no shuffle); training is
    two partial+final aggregations (unigram and bigram counts — the
    model tables are vocabulary-sized, not corpus-sized); scoring
    re-joins the corpus bigrams to the model on the bigram/unigram
    keys — plain hash joins that co-partition on the model keys (the
    model side is NOT forced broadcast: a web-scale bigram table
    doesn't fit one executor). The vocabulary size reaches the plan as
    a broadcast 1-row cross join, never a driver-side constant."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", whitespace_tokens("text").alias("ts"))
    uni = toks.select(F.explode("ts").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("uc"))
    v = ucnt.agg(F.count(F.lit(1)).alias("nv"))
    big = toks.select(
        "doc_id", F.explode(shingles(F.col("ts"), 2, sep="|")).alias("bg")
    ).withColumn("w1", F.substring_index("bg", "|", 1))
    bcnt = big.groupBy("bg").agg(F.count(F.lit(1)).alias("bc"))
    scored = (
        big.join(bcnt, "bg")
        .join(ucnt, big.w1 == ucnt.w)
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.col("bc") + F.lit(_LM_ALPHA))
                / (F.col("uc") + F.lit(_LM_ALPHA) * F.col("nv"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logp"),
    )


ngram_lm_score.__doc__ = ngram_lm_score.__doc__.format(alpha=_LM_ALPHA)


# ---------------------------------------------------------------------------
# sequence packing (training-batch assembly) via distributed prefix sum

_PACK_BUDGET = 512

SEQUENCE_PACK_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
           len({WHITESPACE_TOKENS_SQL}) AS n_toks
    FROM documents
),
c AS (
    SELECT doc_id, n_toks,
           SUM(n_toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cs
    FROM t
)
SELECT CAST((cs - n_toks) // {_PACK_BUDGET} AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_toks
FROM c
GROUP BY bin
ORDER BY bin
"""


@query("q_sequence_pack", SEQUENCE_PACK_ORACLE)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the training-batch assembly step: documents
    concatenated in a deterministic shuffle order (md5 of doc_id) and
    cut into {budget}-token bins; each doc's bin is where its first
    token lands. Output: docs and tokens starting in each bin.

    The load-bearing piece is the GLOBAL RUNNING SUM, computed as the
    scale-safe TWO-PHASE PREFIX SUM instead of one unpartitioned
    window (the single-partition sort that melts at corpus scale):
    (1) bucket by the first hex char of the shuffle key — bucket is a
    PREFIX of the order key, so (bucket, key) order IS key order;
    (2) windowed cumsum WITHIN each bucket, all buckets in parallel;
    (3) per-bucket totals (16 rows) get a running offset on the driver
    -sized side and broadcast back; global cumsum = local + offset.
    The oracle states the same sum as one window — the point is the
    identical result from the partition-parallel plan."""
    from pcap_to_parquet_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        F.size(whitespace_tokens("text")).cast("long").alias("n_toks"),
    ).withColumn("b", F.substring("k", 1, 1))
    w_local = Window.partitionBy("b").orderBy("k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = t.withColumn("lcs", F.sum("n_toks").over(w_local))
    btot = local.groupBy("b").agg(F.sum("n_toks").alias("tot"))
    w_buckets = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn("off", F.coalesce(F.sum("tot").over(w_buckets), F.lit(0)))
    packed = (
        local.join(F.broadcast(offs.select("b", "off")), "b")
        .withColumn("cs", F.col("lcs") + F.col("off"))
        .withColumn(
            "bin",
            ((F.col("cs") - F.col("n_toks")) / _PACK_BUDGET).cast("long"),
        )
    )
    return (
        packed.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
        )
        .orderBy("bin")
    )


sequence_pack.__doc__ = sequence_pack.__doc__.format(budget=_PACK_BUDGET)


# ---------------------------------------------------------------------------
# greedy packing planner: next-fit-decreasing bin census on the length grid

PACK_PLANNER_ORACLE = rf"""
WITH RECURSIVE h AS MATERIALIZED (
    SELECT LEAST(len({WHITESPACE_TOKENS_SQL}), {_PACK_BUDGET}) AS l,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(len({WHITESPACE_TOKENS_SQL}) > {_PACK_BUDGET} AS INT)) AS BIGINT)
               AS n_trunc
    FROM documents
    WHERE len({WHITESPACE_TOKENS_SQL}) >= 1
    GROUP BY 1
),
ord AS MATERIALIZED (
    SELECT l, n, ROW_NUMBER() OVER (ORDER BY l DESC) AS i FROM h
),
pack AS (
    SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS bins,
           CAST(0 AS BIGINT) AS r
    UNION ALL
    SELECT i,
           bins + CASE WHEN rem > 0
                       THEN (rem + cap - 1) // cap ELSE 0 END,
           CASE WHEN rem > 0
                THEN {_PACK_BUDGET}
                     - (rem - ((rem + cap - 1) // cap - 1) * cap) * l
                ELSE r - k0 * l END
    FROM (
        SELECT q.*, q.n - q.k0 AS rem
        FROM (
            SELECT o.i, o.l, o.n, p.bins, p.r,
                   {_PACK_BUDGET} // o.l AS cap,
                   LEAST(o.n, CASE WHEN p.bins > 0
                                   THEN p.r // o.l ELSE 0 END) AS k0
            FROM pack p JOIN ord o ON o.i = p.i + 1
        ) q
    ) z
),
fin AS (SELECT bins AS n_bins FROM pack ORDER BY i DESC LIMIT 1),
tot AS (
    SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(l * n), 0) AS BIGINT) AS total_toks,
           CAST(COALESCE(SUM(n_trunc), 0) AS BIGINT) AS n_truncated
    FROM h
)
SELECT n_docs, total_toks, n_truncated, n_bins,
       CAST((total_toks + {_PACK_BUDGET} - 1) // {_PACK_BUDGET} AS BIGINT)
           AS n_bins_lb,
       ROUND(total_toks * 1.0 / NULLIF(n_bins * {_PACK_BUDGET}, 0), 6)
           AS fill_rate,
       ROUND(n_bins * 1.0
             / NULLIF((total_toks + {_PACK_BUDGET} - 1) // {_PACK_BUDGET}, 0),
             6) AS pack_overhead
FROM tot CROSS JOIN fin
"""


@query("q_pack_planner", PACK_PLANNER_ORACLE)
def pack_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence-packing PLANNER — the pretraining batch-
    efficiency census q_sequence_pack's fixed concatenation order
    can't answer: if documents are packed greedily into {budget}-token
    context windows (docs over budget truncated, none split), how many
    windows does the corpus need, how full are they (fill_rate), and
    how far is greedy from the ceil(total/budget) lower bound
    (pack_overhead)? This is the number that prices a packing strategy
    before a training run commits to it.

    The greedy variant is NEXT-FIT-DECREASING: lengths processed in
    decreasing order, one open bin, closed when the next doc doesn't
    fit. Chosen over first/best-fit deliberately — NFD's packing state
    is a SINGLE scalar (the open bin's residual) evolving on the token
    grid, so the whole fold has a closed-form per-length-bucket
    transition and is exactly replayable as a <=|grid|-step recursive
    CTE in the oracle (the q_holt_forecast recursion pattern);
    first-fit's bin-revisiting needs unbounded per-bin state that no
    fixed replay can express. NFD is itself a classical 2-approximation
    of optimal bin count, and the report carries the lower bound so the
    gap is visible. [engine — not in reference]

    Scale design: the corpus-sized work is ONE map-side-combined
    groupBy building the clipped-length histogram (<= {budget} rows,
    bounded by the grid, never by corpus size); the greedy fold runs
    over that bounded histogram as driver-side model state (the
    q_quality_classifier bounded-state pattern) in O(grid) integer
    steps, and the totals row is a distributed aggregate the fold
    result is broadcast onto. At 100 TB the histogram is still
    <= {budget} rows."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        F.size(whitespace_tokens("text")).cast("long").alias("raw_l")
    ).where(F.col("raw_l") >= 1)
    hist = (
        raw.select(
            F.least(F.col("raw_l"), F.lit(_PACK_BUDGET)).alias("l"),
            (F.col("raw_l") > _PACK_BUDGET).cast("long").alias("tr"),
        )
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("tr").cast("long").alias("n_trunc"),
        )
        .localCheckpoint(eager=True)  # grid-bounded; feeds fold + totals
    )
    # NFD fold over the grid-bounded histogram (bounded model state):
    # same integer transition as the oracle's recursive CTE.
    bins, r = 0, 0
    for row in hist.select("l", "n").orderBy(F.desc("l")).collect():
        l, n = row.l, row.n
        k0 = min(n, r // l) if bins > 0 else 0
        rem = n - k0
        if rem > 0:
            cap = _PACK_BUDGET // l
            newbins = (rem + cap - 1) // cap
            bins += newbins
            r = _PACK_BUDGET - (rem - (newbins - 1) * cap) * l
        else:
            r -= k0 * l
    tot = hist.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.col("l") * F.col("n")), F.lit(0))
        .cast("long")
        .alias("total_toks"),
        F.coalesce(F.sum("n_trunc"), F.lit(0)).cast("long").alias("n_truncated"),
    )
    n_bins = F.lit(bins).cast("long")
    # Integer `div`, not floor(double /): the oracle computes the lower
    # bound with exact integer `//`, and a double quotient loses integer
    # exactness once total_toks + budget-1 exceeds 2^53 (round-11 ADVICE).
    lb = F.expr(
        f"(total_toks + {_PACK_BUDGET - 1}) div {_PACK_BUDGET}"
    ).cast("long")
    return tot.select(
        "n_docs",
        "total_toks",
        "n_truncated",
        n_bins.alias("n_bins"),
        lb.alias("n_bins_lb"),
        F.round(
            F.try_divide(
                F.col("total_toks") * 1.0,
                F.nullif(n_bins * _PACK_BUDGET, F.lit(0)),
            ),
            6,
        ).alias("fill_rate"),
        F.round(F.try_divide(n_bins * 1.0, F.nullif(lb, F.lit(0))), 6).alias(
            "pack_overhead"
        ),
    )


pack_planner.__doc__ = pack_planner.__doc__.format(budget=_PACK_BUDGET)


# ---------------------------------------------------------------------------
# context-window fit census: truncation cost across a max_seq_len grid

_CTX_GRID = [16, 32, 64, 128, 256]

CONTEXT_FIT_ORACLE = rf"""
WITH tc AS (
    SELECT len({WHITESPACE_TOKENS_SQL}) AS t
    FROM documents
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(t), 0) AS BIGINT) AS total_toks,
           {", ".join(
               f"CAST(COALESCE(SUM(CASE WHEN t > {w} THEN 1 ELSE 0 END), 0) AS BIGINT) AS tr{w}, "
               f"CAST(COALESCE(SUM(LEAST(t, {w})), 0) AS BIGINT) AS kp{w}"
               for w in _CTX_GRID)}
    FROM tc
)
SELECT w.window, w.n_truncated,
       ROUND(w.n_truncated * 1.0 / NULLIF(s.n_docs, 0), 6) AS trunc_share,
       w.tokens_kept, s.total_toks,
       ROUND(1.0 - w.tokens_kept * 1.0 / NULLIF(s.total_toks, 0), 6)
           AS token_waste
FROM s, (
    {" UNION ALL ".join(
        f"SELECT CAST({w} AS INT) AS window, tr{w} AS n_truncated, "
        f"kp{w} AS tokens_kept FROM s"
        for w in _CTX_GRID)}
) w
ORDER BY w.window
"""


@query("q_context_fit", CONTEXT_FIT_ORACLE)
def context_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window FIT census — the max_seq_len decision table: for
    every window size on the grid, how many documents a
    truncate-don't-split policy cuts (n_truncated, trunc_share) and
    what fraction of corpus tokens the cut throws away (token_waste,
    from tokens_kept = Σ min(len, window)). Read next to
    q_pack_planner (which prices PACKING at one committed budget):
    this op prices the budget choice itself — the window where
    token_waste flattens is where a longer context stops buying data.
    [engine — not in reference]

    Scale design: ONE map-side-combined global aggregate computes the
    doc count, token total, and the per-window truncation/kept sums in
    a single corpus pass (2 + 2·|grid| sums); the grid unpivot is an
    inline of literal structs over that 1-row frame. No shuffle beyond
    the partial-agg exchange — flat at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    tc = fan_out(d).select(
        F.size(whitespace_tokens("text")).cast("long").alias("t")
    )
    s = tc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("total_toks"),
        *[
            c
            for w in _CTX_GRID
            for c in (
                F.coalesce(
                    F.sum(F.when(F.col("t") > w, 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias(f"tr{w}"),
                F.coalesce(F.sum(F.least(F.col("t"), F.lit(w))), F.lit(0))
                .cast("long")
                .alias(f"kp{w}"),
            )
        ],
    )
    return (
        s.select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(w).alias("window"),
                            F.col(f"tr{w}").alias("n_truncated"),
                            F.col(f"kp{w}").alias("tokens_kept"),
                        )
                        for w in _CTX_GRID
                    ]
                )
            ),
            "n_docs",
            "total_toks",
        )
        .select(
            "window",
            "n_truncated",
            F.round(
                F.col("n_truncated") * 1.0 / F.nullif(F.col("n_docs"), F.lit(0)), 6
            ).alias("trunc_share"),
            "tokens_kept",
            "total_toks",
            F.round(
                F.lit(1.0)
                - F.col("tokens_kept") * 1.0 / F.nullif(F.col("total_toks"), F.lit(0)),
                6,
            ).alias("token_waste"),
        )
        .orderBy("window")
    )


# ---------------------------------------------------------------------------
# RAG chunking: fixed-size overlapping character windows per document

_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks

DOC_CHUNKS_ORACLE = f"""
SELECT doc_id,
       i AS chunk_idx,
       i * {_CHUNK_STRIDE} AS chunk_start,
       substr(text, CAST(i * {_CHUNK_STRIDE} + 1 AS INT), {_CHUNK_SIZE}) AS chunk_text,
       length(substr(text, CAST(i * {_CHUNK_STRIDE} + 1 AS INT), {_CHUNK_SIZE})) AS chunk_len
FROM documents,
     UNNEST(generate_series(0,
        CASE WHEN length(text) <= {_CHUNK_SIZE} THEN 0
             ELSE CAST(CEIL((length(text) - {_CHUNK_SIZE}) / {_CHUNK_STRIDE}.0) AS BIGINT)
        END)) AS g(i)
"""


@query("q_doc_chunks", DOC_CHUNKS_ORACLE)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion chunking: split every document into {size}-char
    windows advancing by {stride} chars (so consecutive chunks share a
    {size}-{stride}-char overlap — retrieval context is never cut mid
    fact at a hard boundary). The last chunk is whatever remains, and
    a doc shorter than one window is a single chunk of itself.

    Map-only fan-out: sequence + explode + substring is pure column
    algebra, zero shuffle — at 100 TB this stage pipelines straight
    from the documents scan into the embedding UDF / parquet sink with
    no exchange. Chunk count per doc is data-driven (ceil over the
    doc length), never a collected driver-side loop."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    n_chunks = F.when(n <= _CHUNK_SIZE, F.lit(1).cast("long")).otherwise(
        F.ceil((n - _CHUNK_SIZE) / F.lit(float(_CHUNK_STRIDE))).cast("long") + 1
    )
    start = F.col("chunk_idx") * _CHUNK_STRIDE
    chunk = F.substring(F.col("text"), (start + 1).cast("int"), F.lit(_CHUNK_SIZE))
    return (
        fan_out(d)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            start.cast("long").alias("chunk_start"),
            chunk.alias("chunk_text"),
            F.length(chunk).cast("long").alias("chunk_len"),
        )
    )


doc_chunks.__doc__ = doc_chunks.__doc__.format(size=_CHUNK_SIZE, stride=_CHUNK_STRIDE)


# ---------------------------------------------------------------------------
# sentence-aware chunking: pack whole sentences into ~fixed-size chunks

_SCHUNK_BUDGET = 240


SENTENCE_CHUNKS_ORACLE = f"""
WITH sent AS (
    SELECT doc_id, i AS sent_idx, ss[i] AS s
    FROM (
        SELECT doc_id,
               list_filter(
                   string_split(
                       regexp_replace(text, '([.!?])\\s+', '\\1' || chr(30), 'g'),
                       chr(30)),
                   x -> x <> '') AS ss
        FROM documents
    ), UNNEST(generate_series(1, len(ss))) AS g(i)
),
cum AS (
    SELECT doc_id, sent_idx, s, length(s) AS slen,
           SUM(length(s)) OVER (PARTITION BY doc_id ORDER BY sent_idx) AS cs
    FROM sent
),
chunked AS (
    SELECT doc_id, (cs - slen) // {_SCHUNK_BUDGET} AS chunk_idx, s, slen
    FROM cum
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(SUM(slen) AS BIGINT) AS chunk_chars
FROM chunked
GROUP BY doc_id, chunk_idx
"""


@query("q_sentence_chunks", SENTENCE_CHUNKS_ORACLE)
def sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware RAG chunking — the retrieval-quality upgrade
    over q_doc_chunks' fixed windows: split on sentence boundaries
    (lookbehind on ./!/? + whitespace), then assign each sentence to
    the chunk where its FIRST character lands under a running
    {budget}-char budget — sentences are never split mid-thought.
    The assignment is a per-document prefix sum (one window over the
    doc's sentences — bounded by document length, partitioned by
    doc_id, never global) followed by integer division: the same
    deterministic packing rule as q_sequence_pack, at sentence
    granularity."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    sent = (
        fan_out(d)
        .select(
            "doc_id",
            # RE2 (DuckDB) has no lookbehind: both engines mark sentence
            # ends with a capture-group replace, then split on the 0x1e
            # sentinel (Java replacement syntax $1, RE2's \1 — same effect)
            F.filter(
                F.split(
                    F.regexp_replace("text", r"([.!?])\s+", "$1\x1e"), "\x1e"
                ),
                lambda x: x != "",
            ).alias("ss"),
        )
        .select("doc_id", F.posexplode("ss").alias("sent_idx", "s"))
    )
    w = Window.partitionBy("doc_id").orderBy("sent_idx")
    cum = sent.select(
        "doc_id",
        "sent_idx",
        F.length("s").alias("slen"),
        F.sum(F.length("s")).over(w).alias("cs"),
    )
    chunked = cum.select(
        "doc_id",
        F.expr(f"(cs - slen) div {_SCHUNK_BUDGET}").alias("chunk_idx"),
        "slen",
    )
    return chunked.groupBy("doc_id", "chunk_idx").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum("slen").alias("chunk_chars"),
    )


sentence_chunks.__doc__ = sentence_chunks.__doc__.format(budget=_SCHUNK_BUDGET)


# ---------------------------------------------------------------------------
# character-entropy quality signal


CHAR_ENTROPY_ORACLE = """
WITH ch AS (
    SELECT doc_id, unnest(string_split(text, '')) AS c
    FROM documents WHERE length(text) > 0
),
freq AS (
    SELECT doc_id, c, COUNT(*) AS k,
           SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS n
    FROM ch GROUP BY doc_id, c
)
SELECT doc_id,
       ROUND(SUM(-(k * 1.0 / n) * ln(k * 1.0 / n) / ln(2.0)), 4) AS char_entropy_bits,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
FROM freq
GROUP BY doc_id
"""


@query("q_char_entropy", CHAR_ENTROPY_ORACLE)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    quality gate that catches what length and stopword ratios miss:
    near-zero entropy flags repeated-character junk and padding,
    abnormally high entropy flags base64/binary blobs masquerading as
    text. Pure column algebra: explode characters, per-doc frequency,
    one -p*log2(p) aggregate; the per-doc char distribution is bounded
    by the alphabet, so the intermediate is |alphabet| x docs, not
    corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ch = (
        fan_out(d.filter(F.length("text") > 0))
        .select("doc_id", F.explode(F.split("text", "")).alias("c"))
    )
    freq = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    n = F.sum("k").over(Window.partitionBy("doc_id"))
    p = F.col("k") * 1.0 / F.col("n")
    return (
        freq.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(-p * F.log(p) / F.log(F.lit(2.0))), 4
            ).alias("char_entropy_bits"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
        )
    )


# ---------------------------------------------------------------------------
# cross-document duplicated-span coverage (exact substring duplication)

_DUPSPAN_N = 5  # span length in tokens

DUP_SPAN_ORACLE = rf"""
WITH tok AS (SELECT doc_id, {WHITESPACE_TOKENS_SQL} AS ws FROM documents),
g AS (
    SELECT doc_id,
           unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS pos,
           unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
                  i -> ws[i] || '|' || ws[i+1] || '|' || ws[i+2] || '|' || ws[i+3] || '|' || ws[i+4])) AS sh
    FROM tok
),
dupg AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
spans AS (SELECT g.doc_id, g.pos AS s, g.pos + 4 AS e FROM g JOIN dupg USING (sh)),
isl AS (
    SELECT doc_id, s, e,
           CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS new_i
    FROM spans
),
isl2 AS (
    SELECT doc_id, s, e,
           SUM(new_i) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
    FROM isl
),
cov AS (
    SELECT doc_id, SUM(mx - mn + 1) AS dup_tokens
    FROM (SELECT doc_id, island, MIN(s) AS mn, MAX(e) AS mx FROM isl2 GROUP BY doc_id, island)
    GROUP BY doc_id
),
n AS (SELECT doc_id, len(ws) AS n_tokens FROM tok WHERE len(ws) > 0)
SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(COALESCE(cov.dup_tokens, 0) * 1.0 / n.n_tokens, 4) AS dup_frac
FROM n LEFT JOIN cov USING (doc_id)
"""


def _dup_spans(tok: DataFrame) -> DataFrame:
    """(doc_id, s, e) spans of every 5-token window whose gram also
    occurs in ANOTHER document; shared by the coverage measure and the
    removal transform."""
    g = tok.select(
        "doc_id", F.posexplode(shingles("ws", _DUPSPAN_N)).alias("pos", "sh")
    )
    dupg = (
        g.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("sh")
    )
    return g.join(dupg, "sh").select(
        "doc_id", F.col("pos").alias("s"), (F.col("pos") + _DUPSPAN_N - 1).alias("e")
    )


@query("q_dup_span_coverage", DUP_SPAN_ORACLE)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of each
    document's tokens covered by some {n}-token span that also occurs
    verbatim in ANOTHER document — the exact-substring duplication
    measure of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), computed span-wise instead of via a
    corpus suffix array. A doc near 1.0 is a copy; mid-range fractions
    flag template boilerplate that document-level dedup never sees.

    Scale shape: positional {n}-gram inventory is map-only (aligned
    slices, no UDF); duplicated grams come from one groupBy carrying
    (gram, doc_id) pairs with map-side partial aggregation; the
    interval-union ("islands") step — overlapping duplicated spans
    must not double-count tokens — is two window passes over each
    doc's matched positions only (matched spans, not the corpus,
    sort within the doc partition). Nothing corpus-sized is ever
    collected or broadcast."""
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select("doc_id", whitespace_tokens("text").alias("ws"))
    spans = _dup_spans(tok)
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = spans.withColumn(
        "new_i", F.when(F.col("s") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    ).withColumn("island", F.sum("new_i").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    cov = (
        isl.groupBy("doc_id", "island")
        .agg(F.min("s").alias("mn"), F.max("e").alias("mx"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("mx") - F.col("mn") + 1).alias("dup_tokens"))
    )
    n = tok.select("doc_id", F.size("ws").cast("long").alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    dup = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return n.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        dup.alias("dup_tokens"),
        F.round(dup * 1.0 / F.col("n_tokens"), 4).alias("dup_frac"),
    )


dup_span_coverage.__doc__ = dup_span_coverage.__doc__.format(n=_DUPSPAN_N)


# ---------------------------------------------------------------------------
# PMI phrase mining over adjacent token pairs

_PMI_MIN_COUNT = 5
_PMI_TOP = 20

PMI_ORACLE = rf"""
WITH tok AS (SELECT doc_id, {WHITESPACE_TOKENS_SQL} AS ws FROM documents),
uni AS (SELECT unnest(ws) AS t FROM tok),
ucnt AS (SELECT t, COUNT(*) AS n FROM uni GROUP BY t),
bg AS (
    SELECT unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                  i -> [ws[i], ws[i+1]])) AS ab
    FROM tok
),
bcnt AS (SELECT ab[1] AS a, ab[2] AS b, COUNT(*) AS n_ab FROM bg GROUP BY ab[1], ab[2]),
tot AS (SELECT (SELECT SUM(n) FROM ucnt) AS nn, (SELECT SUM(n_ab) FROM bcnt) AS nb)
SELECT bcnt.a || ' ' || bcnt.b AS bigram,
       CAST(n_ab AS BIGINT) AS n_ab,
       ROUND(ln((n_ab * 1.0 / nb) / ((ua.n * 1.0 / nn) * (ub.n * 1.0 / nn))), 4) AS pmi
FROM bcnt, tot
JOIN ucnt ua ON ua.t = bcnt.a
JOIN ucnt ub ON ub.t = bcnt.b
WHERE n_ab >= {_PMI_MIN_COUNT}
ORDER BY ln((n_ab * 1.0 / nb) / ((ua.n * 1.0 / nn) * (ub.n * 1.0 / nn))) DESC, bigram
LIMIT {_PMI_TOP}
"""


@query("q_pmi_bigrams", PMI_ORACLE)
def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} adjacent-token pairs by pointwise mutual information
    (min count {mc}) — the phrase-detection statistic behind word2vec
    phrase merging and tokenizer-vocabulary heuristics: PMI =
    ln(p(ab) / (p(a)·p(b))) with unigram and bigram probabilities from
    the same corpus scan.

    Scale shape: unigram and bigram counting are one partial-agg
    groupBy each off a shared map-only tokenization; the PMI join
    attaches the VOCABULARY-sized unigram table twice via plain keyed
    hash joins on the endpoint tokens — NOT force-broadcast, because a
    whitespace vocabulary grows with the corpus by Heaps' law (~1e8-1e9
    distinct tokens at 100 TB) and would OOM a forced broadcast; AQE
    picks broadcast only while the table actually fits (the
    q_ngram_lm_score discipline). The two corpus totals ride along as
    a broadcast 1-row cross join (genuinely bounded). Final top-{top}
    is a TakeOrderedAndProject, never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select(whitespace_tokens("text").alias("ws"))
    ucnt = (
        tok.select(F.explode("ws").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    k = F.greatest(F.size("ws") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("ws", 1, k),
        F.slice("ws", 2, k),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    bcnt = (
        tok.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    tot = ucnt.agg(F.sum("n").alias("nn")).crossJoin(
        bcnt.agg(F.sum("n_ab").alias("nb"))
    )
    pmi = F.log(
        (F.col("n_ab") * 1.0 / F.col("nb"))
        / ((F.col("ua_n") * 1.0 / F.col("nn")) * (F.col("ub_n") * 1.0 / F.col("nn")))
    )
    return (
        bcnt.filter(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(ucnt.select(F.col("t").alias("a"), F.col("n").alias("ua_n")), "a")
        .join(ucnt.select(F.col("t").alias("b"), F.col("n").alias("ub_n")), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat("a", F.lit(" "), "b").alias("bigram"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(pmi, 4).alias("pmi"),
            pmi.alias("_pmi_exact"),
        )
        .orderBy(F.col("_pmi_exact").desc(), "bigram")
        .limit(_PMI_TOP)
        .drop("_pmi_exact")
    )


pmi_bigrams.__doc__ = pmi_bigrams.__doc__.format(top=_PMI_TOP, mc=_PMI_MIN_COUNT)


# ---------------------------------------------------------------------------
# duplicated-span REMOVAL: the transform the coverage measure meters

DUP_REMOVE_ORACLE = rf"""
WITH tok AS (SELECT doc_id, {WHITESPACE_TOKENS_SQL} AS ws FROM documents),
g AS (
    SELECT doc_id,
           unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS pos,
           unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
                  i -> ws[i] || '|' || ws[i+1] || '|' || ws[i+2] || '|' || ws[i+3] || '|' || ws[i+4])) AS sh
    FROM tok
),
dupg AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
covered AS (
    SELECT DISTINCT g.doc_id, unnest(generate_series(g.pos, g.pos + 4)) AS pos
    FROM g JOIN dupg USING (sh)
),
toks AS (
    SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, unnest(ws) AS t
    FROM tok WHERE len(ws) > 0
),
kept AS (
    SELECT tk.doc_id, tk.pos, tk.t
    FROM toks tk ANTI JOIN covered c ON c.doc_id = tk.doc_id AND c.pos = tk.pos
),
agg AS (
    SELECT doc_id, COUNT(*) AS n_kept, string_agg(t, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
),
n AS (SELECT doc_id, len(ws) AS n_tokens FROM tok WHERE len(ws) > 0)
SELECT n.doc_id,
       CAST(n.n_tokens - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(agg.clean_text, '') AS clean_text
FROM n LEFT JOIN agg USING (doc_id)
"""


@query("q_dup_span_removal", DUP_REMOVE_ORACLE)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication as a TRANSFORM: strip every token
    covered by a cross-document duplicated 5-gram from every document
    (the Lee et al. 2022 policy of cutting all copies of a duplicated
    span — at real-corpus duplication rates, keeping zero copies of
    boilerplate is the point) and re-emit the cleaned text. The
    q_dup_span_coverage twin meters what this removes.

    Scale shape: duplicated spans come from the same inverted-index
    groupBy as the coverage measure; covered positions are a bounded
    explode of matched spans (≤ 5 × matches, not corpus-sized); the
    strip is one anti-join of positional tokens against covered
    positions, and reassembly is a per-doc sort of that doc's own
    kept tokens — all shuffles are keyed on doc_id or gram, nothing
    collects."""
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select("doc_id", whitespace_tokens("text").alias("ws"))
    covered = (
        _dup_spans(tok)
        .select("doc_id", F.explode(F.sequence("s", "e")).alias("pos"))
        .distinct()
    )
    toks = tok.filter(F.size("ws") > 0).select(
        "doc_id", F.posexplode("ws").alias("pos", "t")
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "t"))),
                lambda s: s.getField("t"),
            ),
            " ",
        ).alias("clean_text"),
    )
    n = tok.select("doc_id", F.size("ws").cast("long").alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    return n.join(agg, "doc_id", "left").select(
        "doc_id",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# temperature-rebalanced domain mixing (multilingual-style alpha sampling)

_TEMP_ALPHA = 0.5
_TEMP_GATE = 1_000_000

TEMPERATURE_MIX_ORACLE = rf"""
WITH lc AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
mn AS (SELECT MIN(n) AS n_min FROM lc),
rates AS (
    SELECT lang, n, FLOOR(sqrt(n_min * 1.0 / n) * {_TEMP_GATE}) AS gate_bar
    FROM lc, mn
),
gated AS (
    SELECT d.lang,
           CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::INT
                     % {_TEMP_GATE} < r.gate_bar
                THEN 1 ELSE 0 END AS keep
    FROM documents d JOIN rates r USING (lang)
)
SELECT g.lang, CAST(r.n AS BIGINT) AS n_docs,
       CAST(SUM(g.keep) AS BIGINT) AS n_kept,
       ROUND(r.gate_bar * 1.0 / {_TEMP_GATE}, 6) AS target_rate
FROM gated g JOIN rates r USING (lang)
GROUP BY g.lang, r.n, r.gate_bar
"""


@query("q_temperature_mix", TEMPERATURE_MIX_ORACLE)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced language mixing (α = {alpha}): downsample
    each language toward share ∝ n^α — the XLM-R/mC4 recipe that keeps
    low-resource languages from drowning — normalized so the smallest
    language keeps every document: keep-rate_L = sqrt(n_min / n_L).
    Sampling is a deterministic content-addressed md5 gate per doc (the
    engine-independent coin every split/mixing op here uses), so the
    sample is reproducible and the oracle recomputes it exactly; the
    rate is floored onto a {gate}-grid so a last-ulp sqrt difference
    between engines cannot flip a keep decision.

    Scale shape: one |languages|-row count aggregate, its min as a
    broadcast scalar, rates broadcast back onto the corpus scan, and
    the keep decision is map-only column algebra — one partial-agg
    shuffle end to end."""
    d = load_table(spark, sf_dir, "documents")
    lc = fan_out(d).groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mn = lc.agg(F.min("n").alias("n_min"))
    rates = lc.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n",
        F.floor(F.sqrt(F.col("n_min") * 1.0 / F.col("n")) * _TEMP_GATE).alias("gate_bar"),
    )
    gate = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % _TEMP_GATE
    )
    gated = d.join(F.broadcast(rates), "lang").select(
        "lang",
        "n",
        "gate_bar",
        F.when(gate < F.col("gate_bar"), 1).otherwise(0).alias("keep"),
    )
    return gated.groupBy("lang", "n", "gate_bar").agg(
        F.sum("keep").cast("long").alias("n_kept")
    ).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        "n_kept",
        F.round(F.col("gate_bar") * 1.0 / _TEMP_GATE, 6).alias("target_rate"),
    )


temperature_mix.__doc__ = temperature_mix.__doc__.format(
    alpha=_TEMP_ALPHA, gate=_TEMP_GATE
)


# ---------------------------------------------------------------------------
# BPE merge training: the iterative tokenizer-vocabulary kernel

_BPE_ROUNDS = 10


def _bpe_chain_sql(rounds: int, carry_word: bool) -> str:
    """CTE chain replaying BPE merge training in pure DuckDB SQL.

    Segmentations are strings with a double-chr(1) separator between
    symbols (and at both ends); merging pair (a, b) is then
    ``replace(seg, SEP a SEP SEP b SEP, SEP ab SEP)`` — SQL replace's
    left-to-right non-overlapping scan IS greedy BPE re-segmentation
    (the aaa + (a,a) → [aa, a] rule falls out), and the double
    separator means each match consumes only the inner chr(1) of each
    boundary, so adjacent merge sites never compete for a shared
    delimiter. Symbols never contain chr(1) (corpus is printable
    ASCII), so no false boundaries.
    """
    word = "word, " if carry_word else ""
    parts = [
        f"tok AS (SELECT doc_id, unnest({WHITESPACE_TOKENS_SQL}) AS word FROM documents)",
        "wc AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word)",
        f"w0 AS (SELECT {word}repeat(chr(1),2) || "
        "array_to_string(string_split(word, ''), repeat(chr(1),2)) || "
        "repeat(chr(1),2) AS seg, cnt FROM wc)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"p{r} AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS n "
            f"FROM (SELECT list_filter(string_split(seg, repeat(chr(1),2)), "
            f"s -> s <> '') AS syms, cnt FROM w{r - 1}), "
            "UNNEST(range(1, len(syms))) AS t(i) GROUP BY 1, 2)"
        )
        parts.append(
            f"m{r} AS (SELECT CAST({r - 1} AS INTEGER) AS round, a, b, "
            f"a||b AS merged, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"w{r} AS (SELECT {word}replace(seg, "
            "chr(1)||m.a||chr(1)||chr(1)||m.b||chr(1), "
            f"chr(1)||m.a||m.b||chr(1)) AS seg, cnt FROM w{r - 1}, m{r} m)"
        )
    return ",\n".join(parts)


BPE_MERGES_ORACLE = (
    "WITH "
    + _bpe_chain_sql(_BPE_ROUNDS, carry_word=False)
    + '\nSELECT round, a AS "left", b AS "right", merged, '
    "CAST(n AS BIGINT) AS pair_count FROM ("
    + " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, _BPE_ROUNDS + 1))
    + ")"
)

BPE_ENCODE_ORACLE = (
    "WITH "
    + _bpe_chain_sql(_BPE_ROUNDS, carry_word=True)
    + f""",
venc AS (
    SELECT word,
           CAST((length(seg) - length(replace(seg, chr(1), ''))) // 2 - 1
                AS BIGINT) AS n_syms
    FROM w{_BPE_ROUNDS}
)
SELECT t.doc_id,
       count(*) AS n_words,
       CAST(sum(v.n_syms) AS BIGINT) AS n_symbols,
       ROUND(sum(v.n_syms) * 1.0 / count(*), 4) AS syms_per_word
FROM tok t JOIN venc v USING (word)
GROUP BY t.doc_id"""
)


@query("q_bpe_merges", BPE_MERGES_ORACLE)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016), the
    tokenizer-vocabulary kernel q_vocab_build's frequency list feeds:
    {rounds} rounds of (count adjacent symbol pairs) → (merge the most
    frequent pair corpus-wide, ties broken lexicographically).

    The scale trick is the one real BPE trainers use: iterate over the
    WORD-FREQUENCY table, not the corpus — one corpus scan builds
    (word, count), and every round after that touches only the
    vocabulary (weighted pair counts via explode, one argmax row to
    the driver, map-side left-to-right greedy re-segmentation as a
    pure column-algebra array fold). A 100 TB corpus and a 1 GB corpus
    pay the same per-round cost. Outputs the learned merge table
    (round, left, right, merged, pair_count); greedy left-to-right
    semantics and max-count monotonicity are pinned in
    tests/test_round4c_ops.py."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        fan_out(d)
        .select(F.explode(whitespace_tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.split("word", "").alias("syms"), "cnt")
        .localCheckpoint(eager=True)  # vocabulary-sized; rounds re-read it
    )
    merges = []
    for rnd in range(_BPE_ROUNDS):
        k = F.greatest(F.size("syms") - 1, F.lit(0))
        pair = F.zip_with(
            F.slice("syms", 1, k),
            F.slice("syms", 2, k),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        top = (
            words.select(F.explode(pair).alias("p"), "cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] is None:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((rnd, a, b, a + b, n))
        words = words.select(
            _apply_merge("syms", a, b).alias("syms"), "cnt"
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "round int, left string, right string, merged string, pair_count long"
    )


bpe_merges.__doc__ = bpe_merges.__doc__.format(rounds=_BPE_ROUNDS)


def _apply_merge(syms, a: str, b: str):  # type: ignore[no-untyped-def]
    """Left-to-right greedy re-segmentation: fold the symbol array,
    merging (a, b) into a+b when b arrives right after an unmerged a
    (the aaa + (a,a) → [aa, a] overlap rule falls out of the fold)."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


@query("q_bpe_encode", BPE_ENCODE_ORACLE)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table (q_bpe_merges) to the corpus —
    the ENCODE half of the tokenizer: per document, how many subword
    symbols its words decompose into after the {rounds} trained merges.

    The scale trick mirrors real encoders: the merge chain is applied
    to the DISTINCT VOCABULARY once (each merge is one greedy
    column-algebra fold, chained in training order), and the corpus is
    then a keyed hash join of tokens against the word → n_symbols map —
    encode cost scales with the vocabulary, the corpus pays one scan.
    The map join is NOT force-broadcast: the whitespace vocabulary
    grows with the corpus by Heaps' law, so AQE chooses broadcast
    only while the map actually fits (the q_ngram_lm_score
    discipline). Per-doc symbol counts are pinned against a
    plain-Python encoder in tests/test_round4c_ops.py."""
    merge_rows = bpe_merges(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select("doc_id", F.explode(whitespace_tokens("text")).alias("word"))
    vocab = tok.select("word").distinct()
    syms = F.split("word", "")
    for r in merge_rows:
        syms = _apply_merge(syms, r.left, r.right)
    vocab_enc = vocab.select("word", F.size(syms).alias("n_syms"))
    return (
        tok.join(vocab_enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_symbols"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_symbols",
            F.round(F.col("n_symbols") * 1.0 / F.col("n_words"), 4).alias(
                "syms_per_word"
            ),
        )
    )


bpe_encode.__doc__ = bpe_encode.__doc__.format(rounds=_BPE_ROUNDS)


TOKEN_FERTILITY_ORACLE = (
    "WITH "
    + _bpe_chain_sql(_BPE_ROUNDS, carry_word=True)
    + f""",
venc AS (
    SELECT word,
           CAST((length(seg) - length(replace(seg, chr(1), ''))) // 2 - 1
                AS BIGINT) AS n_syms,
           CAST(length(word) AS BIGINT) AS n_chars_w
    FROM w{_BPE_ROUNDS}
),
ltok AS (SELECT d.lang, t.word FROM tok t JOIN documents d USING (doc_id))
SELECT l.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(v.n_syms) AS BIGINT) AS n_tokens,
       CAST(SUM(v.n_chars_w) AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(v.n_syms) AS BIGINT) * 1.0 / COUNT(*), 6)
           AS tokens_per_word,
       ROUND(CAST(SUM(v.n_chars_w) AS BIGINT) * 1.0
             / CAST(SUM(v.n_syms) AS BIGINT), 6) AS chars_per_token
FROM ltok l JOIN venc v USING (word)
GROUP BY l.lang"""
)


@query("q_token_fertility", TOKEN_FERTILITY_ORACLE)
def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility census per language — the number that prices
    a tokenizer against a multilingual corpus before training: after
    the {rounds} trained BPE merges (q_bpe_merges), how many subword
    tokens each language's words decompose into (tokens_per_word, the
    fertility of the classic multilingual-tokenizer studies) and how
    many characters each token carries (chars_per_token — the corpus is
    printable ASCII, so chars == bytes and this is bytes/token). A
    language whose fertility is 2× another's pays 2× the sequence
    length — and so 2× the training compute — for the same text.
    [engine — not in reference]

    Scale design (the q_bpe_encode discipline): the merge chain is
    replayed on the DISTINCT VOCABULARY only (each merge one greedy
    column-algebra fold), the corpus pays one scan into (lang, word)
    tokens plus a keyed hash join against the word → (n_syms,
    n_chars) map (NOT force-broadcast — the whitespace vocabulary
    grows with the corpus by Heaps' law, so AQE picks broadcast only
    while the map fits), and the census is one map-side-combined
    groupBy over |languages| groups. Corpus cost is the token scan;
    everything else is vocabulary-keyed. The oracle replays the
    identical greedy chain in SQL (the q_bpe_encode CTE chain) plus a
    lang join, so the check is exact end to end."""
    merge_rows = bpe_merges(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select(
        "lang", F.explode(whitespace_tokens("text")).alias("word")
    )
    vocab = tok.select("word").distinct()
    syms = F.split("word", "")
    for r in merge_rows:
        syms = _apply_merge(syms, r.left, r.right)
    vocab_enc = vocab.select(
        "word",
        F.size(syms).cast("long").alias("n_syms"),
        F.length("word").cast("long").alias("n_chars_w"),
    )
    return (
        tok.join(vocab_enc, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_tokens"),
            F.sum("n_chars_w").cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_tokens") * 1.0 / F.col("n_words"), 6).alias(
                "tokens_per_word"
            ),
            F.round(F.col("n_chars") * 1.0 / F.col("n_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
    )


token_fertility.__doc__ = token_fertility.__doc__.format(rounds=_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# vocabulary coverage curve: corpus token share covered by the top-K words

_VC_GRID = (100, 300, 1000, 3000, 10000)
_VC_GRID_SQL = ", ".join(str(k) for k in _VC_GRID)

VOCAB_COVERAGE_ORACLE = rf"""
WITH tok AS (
    SELECT unnest({WHITESPACE_TOKENS_SQL}) AS word
    FROM documents
),
wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
tot AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS total_toks,
               CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM wc),
rk AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
       FROM wc ORDER BY cnt DESC, word LIMIT {max(_VC_GRID)}),
grid AS (SELECT CAST(unnest([{_VC_GRID_SQL}]) AS BIGINT) AS top_k),
cov AS (
    SELECT g.top_k, CAST(COALESCE(SUM(r.cnt), 0) AS BIGINT) AS n_covered
    FROM grid g LEFT JOIN rk r ON r.rnk <= g.top_k
    GROUP BY g.top_k
)
SELECT c.top_k, c.n_covered, t.n_vocab, t.total_toks,
       ROUND(c.n_covered * 1.0 / NULLIF(t.total_toks, 0), 6) AS coverage
FROM cov c CROSS JOIN tot t
ORDER BY c.top_k
"""


@query("q_vocab_coverage", VOCAB_COVERAGE_ORACLE)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing number read
    before committing a vocab size: for each K on the {grid} grid,
    what fraction of all corpus token occurrences the K most frequent
    words cover (ties broken lexicographically so the ranking is a
    deterministic total order in both engines). The knee of this curve
    against q_zipf_fit's exponent is how a vocabulary budget gets
    chosen; q_token_fertility then prices what falls outside it.
    [engine — not in reference]

    Scale design: the corpus pays one token scan into a map-side-
    combined (word, count) aggregate; the ranking is a global
    TOP-max(K) via orderBy+limit (TakeOrdered — a distributed
    partial-top-K per partition plus a driver merge, never a full
    single-partition vocabulary sort), and the window/cumsum runs over
    those ≤{maxk} rows only. The grid join is {n} broadcast rows
    against the ≤{maxk}-row ranked frame. A billion-word vocabulary at
    100 TB costs the same post-aggregate work as this test corpus."""
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select(F.explode(whitespace_tokens("text")).alias("word"))
    wc = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    tot = wc.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("total_toks"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    top = wc.orderBy(F.col("cnt").desc(), "word").limit(max(_VC_GRID))
    w = Window.orderBy(F.col("cnt").desc(), "word")
    ranked = top.select("cnt", F.row_number().over(w).alias("rnk"))
    grid = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(k) for k in _VC_GRID])).alias("k"))
        .select(F.col("k").cast("long").alias("top_k"))
    )
    cov = (
        ranked.join(F.broadcast(grid), F.col("rnk") <= F.col("top_k"))
        .groupBy("top_k")
        .agg(F.sum("cnt").cast("long").alias("n_covered"))
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .join(F.broadcast(cov), "top_k", "left")
        .select(
            "top_k",
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("long").alias("n_covered"),
            "n_vocab",
            "total_toks",
            F.round(
                F.try_divide(
                    F.coalesce(F.col("n_covered"), F.lit(0)) * 1.0,
                    F.nullif(F.col("total_toks"), F.lit(0)),
                ),
                6,
            ).alias("coverage"),
        )
        .orderBy("top_k")
    )


vocab_coverage.__doc__ = vocab_coverage.__doc__.format(
    grid=_VC_GRID, maxk=max(_VC_GRID), n=len(_VC_GRID)
)


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram log-ratios)

_DSIR_B = 1024  # hash buckets; the paper's 10k scaled to the test corpus

DSIR_ORACLE = rf"""
WITH tok AS (SELECT doc_id, lang, {WHITESPACE_TOKENS_SQL} AS ws FROM documents),
feats AS (
    SELECT doc_id, lang,
           unnest(list_concat(ws,
               list_transform(generate_series(1, len(ws) - 1),
                              i -> ws[i] || '|' || ws[i+1]))) AS f
    FROM tok
),
fb AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(f), 1, 8))::BIGINT % {_DSIR_B} AS bucket
    FROM feats
),
counts AS (
    SELECT bucket, COUNT(*) AS rn,
           COUNT(*) FILTER (WHERE lang = 'en') AS tn
    FROM fb GROUP BY bucket
),
tot AS (SELECT SUM(rn) AS nr, SUM(tn) AS nt FROM counts),
ratio AS (
    SELECT c.bucket,
           ln((c.tn + 1.0) / (tot.nt + {_DSIR_B}))
         - ln((c.rn + 1.0) / (tot.nr + {_DSIR_B})) AS lr
    FROM counts c, tot
)
SELECT fb.doc_id,
       COUNT(*) AS n_feats,
       ROUND(SUM(ratio.lr), 6) AS logw
FROM fb JOIN ratio USING (bucket)
GROUP BY fb.doc_id
"""


@query("q_dsir_weights", DSIR_ORACLE)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram profile is,
    log w(x) = Σ_f [ln p̂_target(f) - ln q̂_raw(f)] over the doc's
    unigram+bigram features hashed into {b} buckets, both distributions
    Laplace-smoothed. Resampling is then a top-k / thresholded keep on
    logw downstream — the selection step that built the DoReMi/DSIR
    pretraining mixes. The target domain here is lang='en' (any
    predicate over the corpus works the same way).

    Scale shape: the ONLY aggregates are two {b}-row bucket-count
    tables (vocabulary-sized, broadcast back), one scalar total, and a
    per-doc sum — the corpus is scanned twice (count, score), never
    collected; the bucket hash is the engine-independent md5 gate used
    by every split/mixing op here, so the oracle replays it exactly.
    Feature hashing bounds state at ANY corpus size: 100 TB of text
    still produces exactly {b} bucket rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        "doc_id", "lang", whitespace_tokens("text").alias("ws")
    )
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("ws"), shingles("ws", 2, sep="|"))).alias("f"),
    )
    fb = feats.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("f"), 1, 8), 16, 10).cast("long") % _DSIR_B).alias(
            "bucket"
        ),
    )
    # raw and target bucket counts in ONE aggregation pass (the target
    # count is a conditional sum, not a second filtered scan)
    counts = fb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rn"),
        F.sum((F.col("lang") == "en").cast("long")).alias("tn"),
    )
    tot = counts.agg(F.sum("rn").alias("nr"), F.sum("tn").alias("nt"))
    ratio = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("tn") + 1.0) / (F.col("nt") + _DSIR_B))
            - F.log((F.col("rn") + 1.0) / (F.col("nr") + _DSIR_B))
        ).alias("lr"),
    )
    return (
        fb.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lr"), 6).alias("logw"),
        )
    )


dsir_weights.__doc__ = dsir_weights.__doc__.format(b=_DSIR_B)


# ---------------------------------------------------------------------------
# reciprocal rank fusion: hybrid lexical + semantic retrieval

_RRF_K = 60

RRF_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, unnest({WHITESPACE_TOKENS_SQL}) AS token FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n FROM dl),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM tok
    WHERE token IN ({_TERMS_SQL}) GROUP BY doc_id, token
),
df AS (
    SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
    WHERE token IN ({_TERMS_SQL}) GROUP BY token
),
scored AS (
    SELECT tf.doc_id,
           SUM(LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1)
               / (tf.tf + {_BM25_K1}
                  * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))) AS score
    FROM tf
    JOIN df USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
    GROUP BY tf.doc_id
),
lex AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY ROUND(score, 9) DESC, doc_id)
                AS BIGINT) AS lex_rank
    FROM scored
),
sem0 AS (
    SELECT b.vec_id AS doc_id,
           CAST(list_cosine_similarity(q.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]) AS DOUBLE) AS c
    FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE b.vec_id <> 0
),
sem AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY ROUND(c, 9) DESC, doc_id)
                AS BIGINT) AS sem_rank
    FROM sem0
),
fused AS (
    SELECT doc_id, l.lex_rank, s.sem_rank,
           COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
         + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0) AS rrf
    FROM lex l FULL JOIN sem s USING (doc_id)
)
SELECT doc_id, lex_rank, sem_rank, ROUND(rrf, 6) AS rrf_score
FROM fused
ORDER BY ROUND(rrf, 9) DESC, doc_id
LIMIT 20
"""


@query("q_rrf_fusion", RRF_ORACLE)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al. 2009) of the two
    retrieval systems this engine already runs — BM25 lexical ranking
    (q_bm25's full score list) and brute-force cosine ranking against
    the vec_id-0 query (q_similarity_topk's shape) — fused as
    rrf(d) = Σ_systems 1/({k} + rank_s(d)), absent systems contribute
    0. This is the standard hybrid-search merge step of a RAG stack:
    rank-space fusion needs no score calibration between systems.

    Scale shape: each system's ranking is a window over its RESULT
    list (matching docs / corpus vectors — the retrieval outputs,
    orders of magnitude smaller than the raw corpus at production
    selectivity, same single-partition-window justification as
    q_vocab_build), fused with one full outer join on doc_id and
    TakeOrderedAndProject for the final top-20. Both rankings order on
    ROUND(·, 9) before the id tiebreak for cross-libm determinism."""
    lex = _bm25_scored(spark, sf_dir)
    w_lex = Window.orderBy(F.round("score", 9).desc(), "doc_id")
    lex_r = lex.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("lex_rank")
    )
    em = load_table(spark, sf_dir, "embeddings")
    qvec = em.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    sem0 = (
        em.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_similarity("q_embedding", "embedding").alias("c"),
        )
    )
    w_sem = Window.orderBy(F.round("c", 9).desc(), "doc_id")
    sem_r = sem0.select(
        "doc_id", F.row_number().over(w_sem).cast("long").alias("sem_rank")
    )
    fused = lex_r.join(sem_r, "doc_id", "full").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.round("rrf", 9).desc(), "doc_id")
        .limit(20)
        .select("doc_id", "lex_rank", "sem_rank", F.round("rrf", 6).alias("rrf_score"))
    )


rrf_fusion.__doc__ = rrf_fusion.__doc__.format(k=_RRF_K)


# ---------------------------------------------------------------------------
# RAKE keyword extraction: stopword-delimited phrases scored by deg/freq

_RAKE_STOP = (
    "the|a|an|and|or|of|to|in|on|for|with|at|by|from|as|is|are|was|were|be|"
    "been|it|this|that|these|those|its|into|their|our|your|my|we|you|they|"
    "not|no|but|if|then|than|so|such|can|will|has|have|had|do|does|did|all|"
    "any|each|more|most|some|only|same|too|very|just|also|there|here|when|"
    "where|why|how|what|which|who|while|because|until|through|over|under"
)

RAKE_ORACLE = f"""
WITH norm AS (
    SELECT regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '|', 'g'),
               '\\b({_RAKE_STOP})\\b', '|', 'g') AS t
    FROM documents
),
phr AS (
    SELECT trim(regexp_replace(u.p, ' +', ' ', 'g')) AS phrase
    FROM norm, unnest(string_split(t, '|')) AS u(p)
),
occ AS (
    SELECT phrase, COUNT(*) AS n_occ
    FROM phr WHERE phrase <> '' GROUP BY phrase
),
pw AS (  -- one row per word occurrence, weighted by the occurrence count
    SELECT o.phrase, o.n_occ, u.w AS word,
           len(string_split(o.phrase, ' ')) AS plen
    FROM occ o, unnest(string_split(o.phrase, ' ')) AS u(w)
),
ws AS (  -- deg(w)/freq(w): phrase length counted once per OCCURRENCE
    SELECT word,
           CAST(SUM(plen * n_occ) AS DOUBLE) / SUM(n_occ) AS wscore
    FROM pw GROUP BY word
),
ps AS (
    SELECT pw.phrase, MIN(pw.n_occ) AS n_occ,
           ROUND(SUM(ws.wscore), 4) AS rake_score
    FROM pw JOIN ws ON ws.word = pw.word
    GROUP BY pw.phrase
)
SELECT phrase, n_occ, rake_score
FROM ps
ORDER BY rake_score DESC, phrase
LIMIT 20
"""


@query("q_rake_keywords", RAKE_ORACLE)
def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: candidate phrases are maximal runs
    between stopwords/punctuation; each word scores deg/freq (average
    length of the phrases it appears in) and a phrase scores the sum
    of its word scores — the classic unsupervised keyphrase kernel
    (Rose et al. 2010), here as pure distributed column algebra.
    [engine — not in reference]

    Scale design: the whole chain is regexp_replace + split + explode
    inside whole-stage codegen — no Python. Phrases are collapsed to
    DISTINCT (phrase, n_occ) BEFORE word explosion, so the word-stat
    join keys on |distinct phrases|, not |corpus tokens|; the word
    score table is |vocabulary|-bounded (a broadcast at any corpus
    size, though the optimizer is left to choose); the final top-20 is
    a TakeOrdered. deg(w) counts each corpus OCCURRENCE of a phrase
    (weighting by n_occ), matching the original corpus-level RAKE
    definition rather than the per-distinct-phrase shortcut.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", "|"),
        r"\b(" + _RAKE_STOP + r")\b",
        "|",
    )
    phr = (
        d.select(F.explode(F.split(t, r"\|")).alias("p"))
        .select(F.trim(F.regexp_replace("p", " +", " ")).alias("phrase"))
        .where(F.col("phrase") != "")
    )
    occ = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    pw = occ.select(
        "phrase",
        "n_occ",
        F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("word"),
    )
    ws = pw.groupBy("word").agg(
        (
            F.sum(F.col("plen") * F.col("n_occ")).cast("double") / F.sum("n_occ")
        ).alias("wscore")
    )
    ps = (
        pw.join(ws, "word")
        .groupBy("phrase")
        .agg(
            F.min("n_occ").alias("n_occ"),
            F.round(F.sum("wscore"), 4).alias("rake_score"),
        )
    )
    return ps.orderBy(F.desc("rake_score"), "phrase").limit(20)


# ---------------------------------------------------------------------------
# Zipf's-law fit: log-log OLS slope of the token rank-frequency curve

_ZIPF_TOP = 100

ZIPF_ORACLE = f"""
WITH tok AS (
    SELECT u.t AS token
    FROM documents, unnest(string_split(text, ' ')) AS u(t)
    WHERE u.t <> ''
),
freq AS (
    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
),
ranked AS (
    SELECT token, n,
           ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r
    FROM freq
    ORDER BY n DESC, token
    LIMIT {_ZIPF_TOP}
),
ll AS (
    SELECT LN(CAST(r AS DOUBLE)) AS x, LN(CAST(n AS DOUBLE)) AS y FROM ranked
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
       ROUND((AVG(x * y) - AVG(x) * AVG(y))
             / (AVG(x * x) - AVG(x) * AVG(x)), 4) AS zipf_slope,
       ROUND(AVG(y) - (AVG(x * y) - AVG(x) * AVG(y))
             / (AVG(x * x) - AVG(x) * AVG(x)) * AVG(x), 4) AS log_intercept,
       ROUND(POW(AVG(x * y) - AVG(x) * AVG(y), 2)
             / ((AVG(x * x) - AVG(x) * AVG(x))
                * (AVG(y * y) - AVG(y) * AVG(y))), 4) AS r_squared
FROM ll
"""


@query("q_zipf_fit", ZIPF_ORACLE)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: OLS slope of log-frequency vs log-rank
    over the top-100 tokens — the one-number corpus-health check
    (natural text sits near slope −1; synthetic or template-heavy
    corpora flatten, boilerplate floods steepen) that a pretraining
    pipeline tracks per source and per snapshot.
    [engine — not in reference]

    Scale design: the corpus-sized work is one token groupBy (the
    vocabulary count every text op here already shares); the rank
    window runs AFTER a TakeOrdered(100), so the global ROW_NUMBER —
    normally the unscalable shape — orders 100 rows, not |vocab|. The
    OLS closed form is a single aggregate over those 100 (x, y)
    points. Slope/intercept/R² come from the same moment aggregates
    both engines compute identically."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(whitespace_tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = freq.orderBy(F.desc("n"), "token").limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n"), "token"))
    )
    ll = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    sxy = F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y")
    sxx = F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")
    syy = F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y")
    slope = sxy / sxx
    return ll.agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 4).alias("log_intercept"),
        F.round(F.pow(sxy, F.lit(2)) / (sxx * syy), 4).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# unigram-LM tokenizer (SentencePiece-style) trained by true EM

_ULM_MAXLEN = 16  # words longer than this are dropped from training
_ULM_PIECE_MAX = 4
_ULM_VOCAB = 48  # multi-char piece budget (single chars always kept)
_ULM_ROUNDS = 2
_ULM_TOP = 30


def _ulm_sql() -> str:
    """Generate the unrolled EM oracle: seed vocabulary, then per EM
    round a forward chain (alpha), a backward chain (beta) and the
    expected-count M-step — all as MATERIALIZED CTEs (the q_kcore
    lesson: DuckDB inlines plain CTEs, and each step references the
    previous one several times)."""
    L, P = _ULM_MAXLEN, _ULM_PIECE_MAX
    parts = [
        f"""
WITH tok AS MATERIALIZED (
    SELECT u.t AS word, COUNT(*) AS freq
    FROM documents, unnest(string_split(text, ' ')) AS u(t)
    WHERE u.t <> '' AND len(u.t) <= {L}
    GROUP BY u.t
),
cand AS MATERIALIZED (
    SELECT substr(t.word, i.i, l.l) AS piece,
           CAST(SUM(t.freq) AS BIGINT) AS cnt
    FROM tok t,
         unnest(generate_series(1, {L})) AS i(i),
         unnest(generate_series(1, {P})) AS l(l)
    WHERE i.i + l.l - 1 <= len(t.word)
    GROUP BY 1
),
seed AS MATERIALIZED (
    SELECT piece, cnt FROM cand WHERE len(piece) = 1
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM cand WHERE len(piece) > 1
        ORDER BY cnt DESC, piece LIMIT {_ULM_VOCAB})
),
v0 AS MATERIALIZED (
    SELECT piece,
           CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM seed) AS p
    FROM seed
)"""
    ]
    for r in range(1, _ULM_ROUNDS + 1):
        pv = f"v{r - 1}"
        # forward: alc{r}_{j} accumulates alpha rows for positions 0..j
        parts.append(
            f""",
alc{r}_0 AS MATERIALIZED (
    SELECT word, freq, 0 AS j, CAST(1 AS DOUBLE) AS a FROM tok
)"""
        )
        for j in range(1, L + 1):
            parts.append(
                f""",
al{r}_{j} AS MATERIALIZED (
    SELECT a.word, a.freq, {j} AS j, SUM(a.a * v.p) AS a
    FROM alc{r}_{j - 1} a
    JOIN {pv} v ON v.piece = substr(a.word, a.j + 1, {j} - a.j)
    WHERE a.j BETWEEN {max(0, j - P)} AND {j - 1} AND len(a.word) >= {j}
    GROUP BY a.word, a.freq
),
alc{r}_{j} AS MATERIALIZED (
    SELECT * FROM alc{r}_{j - 1} UNION ALL SELECT * FROM al{r}_{j}
)"""
            )
        # backward: btc{r}_{j} accumulates beta rows for positions >= j
        parts.append(
            f""",
btc{r}_{L} AS MATERIALIZED (
    SELECT word, len(word) AS j, CAST(1 AS DOUBLE) AS b FROM tok
)"""
        )
        for j in range(L - 1, -1, -1):
            parts.append(
                f""",
bt{r}_{j} AS MATERIALIZED (
    SELECT b.word, {j} AS j, SUM(b.b * v.p) AS b
    FROM btc{r}_{j + 1} b
    JOIN {pv} v ON v.piece = substr(b.word, {j} + 1, b.j - {j})
    WHERE b.j BETWEEN {j + 1} AND {min(L, j + P)}
      AND len(b.word) > {j}
    GROUP BY b.word
),
btc{r}_{j} AS MATERIALIZED (
    SELECT * FROM btc{r}_{j + 1} UNION ALL SELECT * FROM bt{r}_{j}
)"""
            )
        parts.append(
            f""",
zz{r} AS MATERIALIZED (
    SELECT word, a AS za FROM alc{r}_{L} WHERE j = len(word)
),
cnt{r} AS MATERIALIZED (
    SELECT v.piece, SUM(a.freq * a.a * v.p * b.b / z.za) AS c
    FROM alc{r}_{L} a
    JOIN btc{r}_0 b ON b.word = a.word
                   AND b.j - a.j BETWEEN 1 AND {P}
    JOIN {pv} v ON v.piece = substr(a.word, a.j + 1, b.j - a.j)
    JOIN zz{r} z ON z.word = a.word
    GROUP BY v.piece
),
v{r} AS MATERIALIZED (
    SELECT piece, c / (SELECT SUM(c) FROM cnt{r}) AS p FROM cnt{r}
)"""
        )
    parts.append(
        f"""
SELECT piece, ROUND(LN(p), 4) AS logp
FROM v{_ULM_ROUNDS}
ORDER BY ROUND(p, 12) DESC, piece
LIMIT {_ULM_TOP}
"""
    )
    return "".join(parts)


ULM_ORACLE = _ulm_sql()


@query("q_unigram_lm", ULM_ORACLE)
def unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
    model): seed a substring vocabulary, then run {rounds} rounds of
    TRUE EM — forward-backward expected piece counts under the current
    piece probabilities, renormalize — and emit the top-{top} pieces
    by final probability. With q_bpe_merges/q_bpe_encode this
    completes both major subword-tokenizer families.
    [engine — not in reference]

    Scale design (the q_bpe_merges discipline): every EM pass runs
    over the DISTINCT VOCABULARY, never the corpus — the corpus is
    touched once to build (word, freq). Per round, the cluster work is
    one mapInPandas over the weighted vocabulary with the piece table
    as a broadcast (vocab-bounded model state, the only thing ever
    collected), and one |pieces|-row aggregate. The per-word
    forward-backward is O(len·{piece_max}) on ≤{maxlen}-char words —
    bounded CPU inside an Arrow batch, the applyInPandas-class
    exception to the no-Python-hot-path rule.

    The oracle replays the IDENTICAL math: the DP unrolls as a
    {maxlen}-step materialized-CTE chain per direction per round
    (alpha/beta recurrences are joins against the piece table), so the
    trained distribution is value-checked END TO END — seed selection,
    both EM rounds, final ranking — not just sanity-checked. Product
    order in the expected-count term matches left-to-right between
    numpy and SQL; cross-engine float noise is ~1e-16 against 4dp
    outputs and a 12dp rank key."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(F.explode(whitespace_tokens(F.col("text"))).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= _ULM_MAXLEN))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)  # vocab-bounded; reused every round
    )
    cand = (
        tok.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
        )
        .select(
            "word",
            "freq",
            "i",
            F.explode(F.sequence(F.lit(1), F.lit(_ULM_PIECE_MAX))).alias("l"),
        )
        .where(F.col("i") + F.col("l") - 1 <= F.length("word"))
        .select(F.expr("substring(word, i, l)").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    chars = cand.where(F.length("piece") == 1)
    multi = (
        cand.where(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), "piece")
        .limit(_ULM_VOCAB)
    )
    seed = chars.unionAll(multi).collect()  # vocab-bounded model state
    if not seed:  # empty corpus: no vocabulary, no model
        return spark.createDataFrame([], "piece string, logp double")
    total = float(sum(r.cnt for r in seed))
    probs = {r.piece: r.cnt / total for r in seed}

    pmax = _ULM_PIECE_MAX
    for _ in range(_ULM_ROUNDS):
        bc = spark.sparkContext.broadcast(probs)

        def estep(batches):  # noqa: ANN001
            pv = bc.value
            for pdf in batches:
                counts: dict[str, float] = {}
                for word, freq in zip(pdf["word"], pdf["freq"]):
                    lw = len(word)
                    alpha = [0.0] * (lw + 1)
                    alpha[0] = 1.0
                    for j in range(1, lw + 1):
                        s = 0.0
                        for piece_len in range(1, min(pmax, j) + 1):
                            pc = pv.get(word[j - piece_len : j])
                            if pc:
                                s += alpha[j - piece_len] * pc
                        alpha[j] = s
                    beta = [0.0] * (lw + 1)
                    beta[lw] = 1.0
                    for j in range(lw - 1, -1, -1):
                        s = 0.0
                        for piece_len in range(1, min(pmax, lw - j) + 1):
                            pc = pv.get(word[j : j + piece_len])
                            if pc:
                                s += beta[j + piece_len] * pc
                        beta[j] = s
                    z = alpha[lw]
                    if z <= 0.0:
                        continue
                    for i in range(lw):
                        for piece_len in range(1, min(pmax, lw - i) + 1):
                            piece = word[i : i + piece_len]
                            pc = pv.get(piece)
                            if pc:
                                c = freq * alpha[i] * pc * beta[i + piece_len] / z
                                if c:
                                    counts[piece] = counts.get(piece, 0.0) + c
                yield pd.DataFrame(
                    {"piece": list(counts), "c": list(counts.values())}
                )

        crows = (
            tok.mapInPandas(estep, "piece string, c double")
            .groupBy("piece")
            .agg(F.sum("c").alias("c"))
            .collect()  # |pieces|-bounded
        )
        ctot = float(sum(r.c for r in crows))
        probs = {r.piece: r.c / ctot for r in crows}

    import math

    final = sorted(probs.items(), key=lambda kv: (-round(kv[1], 12), kv[0]))
    rows = [(p, round(math.log(pr), 4)) for p, pr in final[:_ULM_TOP]]
    return spark.createDataFrame(rows, "piece string, logp double")


unigram_lm.__doc__ = unigram_lm.__doc__.format(
    rounds=_ULM_ROUNDS, top=_ULM_TOP, maxlen=_ULM_MAXLEN, piece_max=_ULM_PIECE_MAX
)


# ---------------------------------------------------------------------------
# T5-style span-corruption mask plan: seeded spans, merged, censused

_SPANMASK_SEED = "t5mask"
_SPANMASK_P = 0.08  # span-start probability per token
_SPANMASK_MOD = 1_000_000_007

SPAN_MASK_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id,
           {WHITESPACE_TOKENS_SQL} AS ws
    FROM documents
),
pos AS (
    SELECT doc_id, len(ws) AS n_tokens, i.p AS p,
           ('0x' || substr(md5('{_SPANMASK_SEED}:' || CAST(doc_id AS VARCHAR)
                                || ':' || CAST(i.p AS VARCHAR)), 1, 6))::INT
               AS h
    FROM tok, unnest(generate_series(1, len(ws))) AS i(p)
),
starts AS (  -- span starts where the 24-bit uniform < p; length 2-4
    SELECT doc_id, p AS s, 2 + (h % 3) AS l
    FROM pos WHERE h < {int(_SPANMASK_P * (1 << 24))}
),
masked AS (
    SELECT DISTINCT pos.doc_id, pos.p
    FROM pos JOIN starts
      ON starts.doc_id = pos.doc_id
     AND pos.p BETWEEN starts.s AND starts.s + starts.l - 1
),
runs AS (
    SELECT doc_id, p,
           CASE WHEN LAG(p) OVER (PARTITION BY doc_id ORDER BY p) = p - 1
                THEN 0 ELSE 1 END AS run_head
    FROM masked
)
SELECT t.doc_id,
       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(COUNT(r.p), 0) AS BIGINT) AS n_masked,
       ROUND(CAST(COALESCE(COUNT(r.p), 0) AS DOUBLE)
             / GREATEST(len(t.ws), 1), 4) AS mask_ratio,
       CAST(COALESCE(SUM(r.run_head), 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(SUM(r.p * r.p), 0) % {_SPANMASK_MOD} AS BIGINT)
           AS mask_checksum
FROM tok t LEFT JOIN runs r ON r.doc_id = t.doc_id
GROUP BY t.doc_id, len(t.ws)
"""


@query("q_span_mask", SPAN_MASK_ORACLE)
def span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption PLANNING: deterministically seeded
    mask spans (start where a per-(doc, pos) 24-bit md5 uniform falls
    under {p}; lengths 2-4 from the same hash; overlaps merge), with
    the per-document census a denoising-objective data pipeline needs
    — token count, masked count/ratio, number of MAXIMAL spans after
    merging, and a positional checksum so the exact mask set is
    value-verified without emitting |tokens| rows. Re-seeding the
    string yields a fresh independent mask epoch (the q_shard_assign
    property). [engine — not in reference]

    Scale design: hashing is map-side column algebra after one
    posexplode; the span-merge is a self-join bounded by span length
    (≤ 4 positions back) keyed on doc_id, and the run census is a lag
    window PARTITIONED BY DOCUMENT — nothing global, nothing
    collected."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", whitespace_tokens(F.col("text")).alias("ws")
    ).select("doc_id", F.size("ws").alias("n_tokens"), "ws")
    pos = tok.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens"))).alias("p"),
    ).select(
        "doc_id",
        "n_tokens",
        "p",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_SPANMASK_SEED + ":"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("p").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        )
        .cast("int")
        .alias("h"),
    )
    starts = pos.where(F.col("h") < int(_SPANMASK_P * (1 << 24))).select(
        F.col("doc_id").alias("sdoc"),
        F.col("p").alias("s"),
        (F.lit(2) + F.col("h") % 3).alias("l"),
    )
    masked = (
        pos.join(
            starts,
            (F.col("sdoc") == F.col("doc_id"))
            & F.col("p").between(F.col("s"), F.col("s") + F.col("l") - 1),
        )
        .select("doc_id", "p")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = masked.select(
        "doc_id",
        "p",
        F.when(F.lag("p").over(w) == F.col("p") - 1, 0).otherwise(1).alias(
            "run_head"
        ),
    )
    census = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_masked"),
        F.sum("run_head").cast("long").alias("n_spans"),
        (F.sum(F.col("p") * F.col("p")) % _SPANMASK_MOD)
        .cast("long")
        .alias("mask_checksum"),
    )
    return (
        tok.select("doc_id", "n_tokens")
        .join(census, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
            F.round(
                F.coalesce("n_masked", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ).alias("mask_ratio"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("mask_checksum", F.lit(0)).cast("long").alias(
                "mask_checksum"
            ),
        )
    )


span_mask.__doc__ = span_mask.__doc__.format(p=_SPANMASK_P)


# ---------------------------------------------------------------------------
# Flesch reading-ease: per-document readability scoring

READABILITY_ORACLE = r"""
WITH counts AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
           CAST(GREATEST(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT)
               AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       ROUND(206.835 - 1.015 * (n_words / (n_sentences * 1.0))
                     - 84.6 * (n_syllables / NULLIF(n_words * 1.0, 0)), 6)
           AS flesch
FROM counts
ORDER BY doc_id
"""


@query("q_readability", READABILITY_ORACLE)
def readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document — a classic
    quality-scoring signal for training-data curation (very low
    scores flag boilerplate/code/gibberish, very high ones flag
    trivial fragments), computed from three regex censuses: words
    (\\S+ runs), sentences ([.!?] marks, floored at 1 for
    fragment-only docs), and the standard vowel-group syllable
    approximation ([aeiouy]+ runs). [engine — not in reference]

    Scale design: three regexp_count expressions in one map-only
    projection — no shuffle at all beyond the parquet scan; the score
    arithmetic is deterministic IEEE math on exact integer counts,
    identical in both engines before the 6dp round."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.regexp_count("text", F.lit(r"\S+")).cast("long")
    n_sent = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]")), F.lit(1)
    ).cast("long")
    n_syl = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("long")
    counts = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    return counts.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words") / (F.col("n_sentences") * 1.0))
            - 84.6
            * F.try_divide(
                F.col("n_syllables"), F.nullif(F.col("n_words") * 1.0, F.lit(0.0))
            ),
            6,
        ).alias("flesch"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between two sources' token distributions

_JSD_A = "src0"
_JSD_B = "src1"

JSD_ORACLE = rf"""
WITH tok AS (
    SELECT source, unnest({WHITESPACE_TOKENS_SQL}) AS token
    FROM documents WHERE source IN ('{_JSD_A}', '{_JSD_B}')
),
cnt AS (
    SELECT token,
           CAST(SUM(CASE WHEN source = '{_JSD_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN source = '{_JSD_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
    FROM tok GROUP BY token
),
tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
               CAST(COUNT(*) AS BIGINT) AS nv FROM cnt),
terms AS (
    SELECT tot.nv, tot.ta, tot.tb,
           na / (tot.ta * 1.0) AS p, nb / (tot.tb * 1.0) AS q
    FROM cnt, tot
)
SELECT nv AS n_vocab, ta AS n_tokens_a, tb AS n_tokens_b,
       ROUND(SUM(CASE WHEN p > 0 THEN p * log2(2 * p / (p + q)) ELSE 0 END) / 2
             + SUM(CASE WHEN q > 0 THEN q * log2(2 * q / (p + q)) ELSE 0 END) / 2,
             6) AS jsd
FROM terms GROUP BY nv, ta, tb
"""


@query("q_js_divergence", JSD_ORACLE)
def js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram token
    distributions of two sources ('{a}' vs '{b}') — the symmetric,
    bounded-in-[0,1] (log2) distribution distance used to quantify
    domain shift between corpus slices before mixing them; unlike KL
    it is finite when a token appears in only one source (those terms
    contribute p/2·log2(2) via the mixture). [engine — not in
    reference]

    Scale design: one token census groupBy (vocabulary-bounded, the
    q_vocab_build contract), one broadcast of the two total counts,
    then a map-side term expression and a single-row aggregate. The
    per-token probabilities are exact-integer divisions — identical
    IEEE doubles in both engines — and log2 parity is the same libm
    contract q_bm25/q_dsir_weights rely on; the final sum is
    6dp-rounded."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.filter(F.col("source").isin(_JSD_A, _JSD_B))
        .select("source", F.explode(whitespace_tokens("text")).alias("token"))
    )
    cnt = tok.groupBy("token").agg(
        F.sum((F.col("source") == _JSD_A).cast("int")).cast("long").alias("na"),
        F.sum((F.col("source") == _JSD_B).cast("int")).cast("long").alias("nb"),
    )
    tot = cnt.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
        F.count(F.lit(1)).cast("long").alias("nv"),
    )
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "nv",
        "ta",
        "tb",
        (F.col("na") / (F.col("ta") * 1.0)).alias("p"),
        (F.col("nb") / (F.col("tb") * 1.0)).alias("q"),
    )
    p, q = F.col("p"), F.col("q")
    return terms.groupBy("nv", "ta", "tb").agg(
        F.round(
            F.sum(F.when(p > 0, p * F.log2(2 * p / (p + q))).otherwise(0.0)) / 2
            + F.sum(F.when(q > 0, q * F.log2(2 * q / (p + q))).otherwise(0.0)) / 2,
            6,
        ).alias("jsd")
    ).select(
        F.col("nv").alias("n_vocab"),
        F.col("ta").alias("n_tokens_a"),
        F.col("tb").alias("n_tokens_b"),
        "jsd",
    )


js_divergence.__doc__ = js_divergence.__doc__.format(a=_JSD_A, b=_JSD_B)
