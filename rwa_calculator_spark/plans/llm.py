"""LLM training-data pipeline operators (BASELINE.json north star; SURVEY
§7.1 step 9): dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard),
similarity search over embeddings (brute-force + LSH-bucketed), text
analysis (language-ID, quality, tokens, fingerprints), multimodal plumbing.

All implemented expression-first over documents/embeddings; the pairwise
stages bound their candidate sets (LSH bands / shared-word thresholds) so
the same plans hold at 100 TB — no all-pairs cross join anywhere except the
explicitly-bounded query-vector × corpus product in brute-force ANN.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rwa_calculator_spark.functions.exact import scaled_sum, sql_scaled_sum
from rwa_calculator_spark.functions.text import (
    seeded_hash32,
    sql_seeded_hash32,
    sql_hash32,
    hash32,
)
from rwa_calculator_spark.plans.registry import query
from rwa_calculator_spark.sources.star import load_table, load_table_fanned


# ---------------------------------------------------------------------------
# dedup: exact
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           count(*) - count(DISTINCT md5(text)) AS n_dups
    FROM documents GROUP BY lang
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash — hash-groupBy, the 100 TB-safe form of
    dropDuplicates(text): only the 16-byte digest shuffles, not the text."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# dedup: n-gram (word-set) Jaccard on bounded candidates
# ---------------------------------------------------------------------------


# Document-frequency cap for candidate generation: words appearing in more
# than this many documents never key a candidate pair. Kills the hot-token
# quadratic blowup (one stopword in 10M docs would otherwise make ~10^13
# candidate pairs) while exact Jaccard is still verified over the FULL word
# sets for every surviving candidate.
_NGRAM_DF_CAP = 1000


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH ws AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n_words FROM ws GROUP BY doc_id
    ), rare AS (
        SELECT doc_id, word FROM ws
        QUALIFY count(*) OVER (PARTITION BY word) <= {_NGRAM_DF_CAP}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.word = b.word AND a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN ws a ON a.doc_id = c.doc_a
        JOIN ws b ON b.doc_id = c.doc_b AND b.word = a.word
        GROUP BY 1, 2 HAVING count(*) >= 20
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE)
                 / CAST(sa.n_words + sb.n_words - i.n_common AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE)
          / CAST(sa.n_words + sb.n_words - i.n_common AS DOUBLE) >= 0.6
    """,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by word-set Jaccard, two-pass:

    1. candidate generation over RARE words only (document frequency ≤
       `_NGRAM_DF_CAP`) — the posting-list self-join can never go quadratic
       on a hot token, so the shape survives a 100× corpus;
    2. exact verification: the full word sets of each candidate pair are
       intersected and true Jaccard computed (so the df cap does not skew
       the similarity value).

    A pair sharing ONLY ultra-common words is not generated as a candidate —
    the standard rare-feature trade-off, mirrored exactly in the oracle."""
    from rwa_calculator_spark.utils import release_cached_blocks

    release_cached_blocks(spark)  # bound the one-session cached footprint
    d = load_table(spark, sf_dir, "documents")
    # The word-set frame feeds FOUR consumers (sizes, the rare-word filter,
    # and both sides of the verification join); without a barrier Spark
    # re-instantiates the scan+split+explode+distinct subtree per consumer
    # (guide §1.2: don't compute things twice / §3.3 materialise reused
    # intermediates). The lazy localCheckpoint computes it once.
    ws = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = ws.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    wdf = W.partitionBy("word")
    rare = ws.withColumn("_df", F.count("*").over(wdf)).where(
        F.col("_df") <= _NGRAM_DF_CAP
    ).drop("_df")
    a = rare.alias("a")
    b = rare.alias("b")
    cand = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    wa = ws.alias("wa")
    wb = ws.alias("wb")
    inter = (
        cand.join(wa, F.col("doc_a") == F.col("wa.doc_id"))
        .join(wb, (F.col("doc_b") == F.col("wb.doc_id")) & (F.col("wa.word") == F.col("wb.word")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= 20)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        F.col("n_common").cast("double")
        / (F.col("sa.n_words") + F.col("sb.n_words") - F.col("n_common")).cast("double")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# dedup: MinHash + LSH banding
# ---------------------------------------------------------------------------

_N_HASHES = 16
_BANDS = 4  # 4 rows per band


def _sql_minhash_cols() -> str:
    return ",\n               ".join(
        f"min({sql_seeded_hash32(s, 'word')}) AS mh{s}" for s in range(_N_HASHES)
    )


def _sql_band_sig(b: int) -> str:
    lo = b * (_N_HASHES // _BANDS)
    return " || ':' || ".join(f"mh{i}" for i in range(lo, lo + _N_HASHES // _BANDS))


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH ws AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), sigs AS (
        SELECT doc_id,
               {_sql_minhash_cols()}
        FROM ws GROUP BY doc_id
    ), bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, {_sql_band_sig(b)} AS sig FROM sigs" for b in range(_BANDS))}
    ), buckets AS (
        SELECT band_id, sig, count(*) AS bucket_size FROM bands GROUP BY 1, 2
    )
    SELECT band_id,
           count(*) AS n_buckets,
           sum(CASE WHEN bucket_size > 1 THEN 1 ELSE 0 END)::BIGINT AS n_collision_buckets,
           sum(bucket_size * (bucket_size - 1) // 2)::BIGINT AS n_candidate_pairs
    FROM buckets GROUP BY band_id
    """,
    tags=("llm", "dedup"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 seeded hashes over the word set) banded 4×4
    into LSH buckets (shingle→minhash→band→bucket). Reports per-band bucket
    stats and candidate-pair counts; candidates are verified by
    dedup_ngram_jaccard's exact pass. At scale only (band, sig) pairs
    shuffle — signature width is constant per doc."""
    # fanned load: the explode + 16-hash chain above the scan is the heavy
    # part; a single-row-group file would otherwise run it on one task
    d = load_table_fanned(spark, sf_dir, "documents")
    # no distinct before the min-aggregation: min over the word *multiset*
    # equals min over the word *set*, so the dedup shuffle is pure waste
    ws = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    sigs = ws.groupBy("doc_id").agg(
        *[F.min(seeded_hash32(s, F.col("word"))).alias(f"mh{s}") for s in range(_N_HASHES)]
    )
    rows_per_band = _N_HASHES // _BANDS
    # one signature pass, not four: a union of per-band selects over `sigs`
    # re-runs the whole explode+minhash aggregation per band (4 concurrent
    # full passes in the round-9 profile, ~1 s CPU each); posexplode of the
    # band-signature array emits the same (doc_id, band_id, sig) rows from
    # a single aggregation subtree (guide §2.4: remove duplicate passes)
    band_sigs = [
        F.concat_ws(
            ":",
            *[
                F.col(f"mh{i}").cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.posexplode(F.array(*band_sigs)).alias("band_id", "sig")
    )
    buckets = bands.groupBy("band_id", "sig").agg(F.count("*").alias("bucket_size"))
    return buckets.groupBy("band_id").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("bucket_size") > 1, 1).otherwise(0)).cast("long").alias(
            "n_collision_buckets"
        ),
        F.sum(F.floor(F.col("bucket_size") * (F.col("bucket_size") - 1) / 2))
        .cast("long")
        .alias("n_candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# dedup: SimHash
# ---------------------------------------------------------------------------

_SIM_BITS = 32


@query(
    "dedup_simhash",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
    ), h AS (
        SELECT doc_id, lang, {sql_hash32('word')} AS hw FROM w
    ), bits AS (
        SELECT doc_id, lang,
               {", ".join(f"sum(CASE WHEN (hw & {1 << j}) <> 0 THEN 1 ELSE -1 END) AS b{j}" for j in range(_SIM_BITS))}
        FROM h GROUP BY doc_id, lang
    ), sim AS (
        SELECT doc_id, lang,
               ({" + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIM_BITS))})::BIGINT AS simhash
        FROM bits
    )
    SELECT lang, count(*) AS n_docs, count(DISTINCT simhash) AS n_distinct,
           min(simhash) AS min_sim, max(simhash) AS max_sim
    FROM sim GROUP BY lang
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-bit ±1 votes over (multiset) word
    hashes, majority → bit. Pure conditional aggregation — no explode of
    bit positions, 32 map-side-combined sums per doc."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    h = w.select("doc_id", "lang", hash32(F.col("word")).alias("hw"))
    bits = h.groupBy("doc_id", "lang").agg(
        *[
            F.sum(
                F.when(F.col("hw").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(_SIM_BITS)
        ]
    )
    simhash = reduce(
        lambda acc, j: acc + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(0),
        range(1, _SIM_BITS),
        F.when(F.col("b0") > 0, F.lit(1)).otherwise(0),
    ).cast("long")
    sim = bits.select("doc_id", "lang", simhash.alias("simhash"))
    return sim.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("simhash").alias("n_distinct"),
        F.min("simhash").alias("min_sim"),
        F.max("simhash").alias("max_sim"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = [
    ("en", "the"), ("en", "a"), ("en", "of"),
    ("de", "der"), ("de", "und"), ("fr", "le"), ("fr", "et"),
    ("es", "el"), ("es", "y"), ("zh", "de"),
]
_SQL_STOPWORDS = "(VALUES " + ", ".join(f"('{l}', '{w}')" for l, w in _STOPWORDS) + ") AS sw(sw_lang, sw_word)"


@query(
    "text_lang_id",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
    ), votes AS (
        SELECT w.doc_id, w.lang, sw.sw_lang, count(*) AS n_hits
        FROM w JOIN {_SQL_STOPWORDS} ON w.word = sw.sw_word
        GROUP BY 1, 2, 3
    ), best AS (
        SELECT doc_id, lang, sw_lang AS predicted
        FROM votes
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY n_hits DESC, sw_lang) = 1
    ), labelled AS (
        SELECT d.lang, coalesce(b.predicted, 'und') AS predicted
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    )
    SELECT lang, predicted, count(*) AS n_docs
    FROM labelled GROUP BY 1, 2
    """,
    tags=("llm", "text"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: stopword votes per language, argmax with
    deterministic tiebreak, 'und' when no stopword hits. Output is the
    confusion matrix against the labelled lang column."""
    d = load_table(spark, sf_dir, "documents")
    from rwa_calculator_spark.operators.localrel import local_literal_df

    sw = local_literal_df(spark, "sw_lang string, sw_word string", _STOPWORDS)
    w = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    votes = (
        w.join(F.broadcast(sw), w.word == sw.sw_word)
        .groupBy("doc_id", "lang", "sw_lang")
        .agg(F.count("*").alias("n_hits"))
    )
    win = W.partitionBy("doc_id").orderBy(F.col("n_hits").desc(), F.col("sw_lang"))
    best = (
        votes.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("sw_lang").alias("predicted"))
    )
    labelled = d.join(best, "doc_id", "left").select(
        "lang", F.coalesce("predicted", F.lit("und")).alias("predicted")
    )
    return labelled.groupBy("lang", "predicted").agg(F.count("*").alias("n_docs"))


@query(
    "text_quality_score",
    oracle=f"""
    WITH feats AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_extract_all(text, '(^| )(the|a|of)( |$)')) AS BIGINT) AS n_stop,
               CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len
        FROM documents
    ), scored AS (
        SELECT lang, n_words, n_chars, mean_word_len,
               CASE WHEN n_words < 20 THEN 'too_short'
                    WHEN mean_word_len < 3.0 THEN 'low_density'
                    WHEN n_stop = 0 THEN 'no_function_words'
                    ELSE 'ok' END AS quality_bucket
        FROM feats
    )
    SELECT lang, quality_bucket, count(*) AS n_docs,
           {sql_scaled_sum('mean_word_len', 4)} AS total_mwl
    FROM scored GROUP BY 1, 2
    """,
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / word-density / function-word heuristics
    bucketed per doc (the shape of pretraining quality filters)."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("long")
    n_chars = F.length("text").cast("long")
    n_stop = F.regexp_count("text", F.lit("(^| )(the|a|of)( |$)")).cast("long")
    mwl = (n_chars - n_words + 1).cast("double") / n_words.cast("double")
    feats = d.select(
        "lang",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        n_stop.alias("n_stop"),
        mwl.alias("mean_word_len"),
    )
    bucket = (
        F.when(F.col("n_words") < 20, "too_short")
        .when(F.col("mean_word_len") < 3.0, "low_density")
        .when(F.col("n_stop") == 0, "no_function_words")
        .otherwise("ok")
    )
    return feats.select("lang", bucket.alias("quality_bucket"), "mean_word_len").groupBy(
        "lang", "quality_bucket"
    ).agg(
        F.count("*").alias("n_docs"),
        scaled_sum(F.col("mean_word_len"), 4).alias("total_mwl"),
    )


@query(
    "token_count",
    oracle="""
    SELECT lang,
           sum(len(string_split(text, ' ')))::BIGINT AS ws_tokens,
           sum(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')))::BIGINT AS bpe_ish_tokens,
           sum(length(text))::BIGINT AS n_chars,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (alnum runs / single non-alnum) — the standard corpus-size accounting."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("ws_tokens"),
        F.sum(F.regexp_count("text", F.lit("[a-z0-9]+|[^a-z0-9 ]"))).cast("long").alias(
            "bpe_ish_tokens"
        ),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.count("*").alias("n_docs"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, pos, {sql_hash32("substr(text, CAST(pos AS INTEGER), 8)")} AS h
        FROM documents, LATERAL unnest(range(1, length(text) - 6)) AS t(pos)
    ), winnow AS (
        SELECT doc_id, pos, h,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
               count(*) OVER (PARTITION BY doc_id) AS n_grams
        FROM grams
    )
    SELECT doc_id, max(n_grams)::BIGINT AS n_grams,
           count(DISTINCT wmin) AS n_fingerprints
    FROM winnow WHERE pos <= n_grams - 3
    GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: 8-char-gram rolling hashes, window
    w=4 minima, distinct minima = fingerprint set (Schleimer et al. 2003,
    the MOSS scheme). Expression + window only; the gram explode is bounded
    by doc length."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("pos"),
    ).select("doc_id", "pos", hash32(F.expr("substring(text, pos, 8)")).alias("h"))
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    cnt = W.partitionBy("doc_id")
    winnow = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(win).alias("wmin"),
        F.count("*").over(cnt).alias("n_grams"),
    )
    return (
        winnow.where(F.col("pos") <= F.col("n_grams") - 3)
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("long").alias("n_grams"),
            F.countDistinct("wmin").alias("n_fingerprints"),
        )
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

from rwa_calculator_spark.operators.similarity import (  # noqa: E402
    spark_dot,
    spark_lsh_bucket,
    sql_dot,
    sql_lsh_bucket,
)

_TOPK = 5
_N_PLANES = 8


# Broadcast guard for the exact-ANN query slice (mirrors the driver-walk
# guard at operators/graph.py MAX_LOCAL_EDGES): brute-force cosine is the
# exact baseline for BOUNDED query sets; beyond this, the partitioned IVF /
# LSH paths are the scale answer. 500k × 64 floats ≈ 256 MB broadcast — the
# practical executor-memory ceiling.
MAX_BROADCAST_QUERY_ROWS = 500_000


def guard_broadcast_query(q: DataFrame, limit: int = MAX_BROADCAST_QUERY_ROWS) -> DataFrame:
    n = q.count()
    if n > limit:
        raise ValueError(
            f"ann_cosine_topk query slice has {n} rows (> {limit}); "
            "broadcasting it would overwhelm executors — use ann_ivf_probe "
            "or ann_lsh_bucket for large query sets"
        )
    return q


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
    pairs AS (
        SELECT q.qid, c.vec_id AS cid,
               {sql_dot('q.qv', 'c.embedding')} AS dot,
               {sql_dot('q.qv', 'q.qv')} AS nq2,
               {sql_dot('c.embedding', 'c.embedding')} AS nc2
        FROM q CROSS JOIN embeddings c
        WHERE c.vec_id <> q.qid
    ), scored AS (
        SELECT qid, cid, round(dot / sqrt(nq2 * nc2), 12) AS cosine
        FROM pairs
    )
    SELECT qid, cid, rank, round(cosine, 9) AS cosine FROM (
        SELECT qid, cid, cosine,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= {_TOPK}
    """,
    tags=("llm", "similarity"),
    bench=True,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact-baseline for ANN. The query set
    is broadcast against the corpus (never corpus × corpus); scoring is an
    unrolled 64-term codegen'd chain; top-k is a per-query window rank.
    At 100 TB the corpus side stays partitioned and only k rows per query
    survive the rank filter. The broadcast side is size-guarded
    (guard_broadcast_query) — an oversized query set must route through
    ann_ivf_probe / ann_lsh_bucket instead of a driver-melting broadcast."""
    # fanned load: the 64-term scoring chain over corpus × queries is the
    # heavy part; a single-row-group file would run it all on one task
    e = load_table_fanned(spark, sf_dir, "embeddings")
    # self-norms are per-vector, not per-pair: compute nq²/nc² ONCE per row
    # on each join input instead of re-evaluating a 64-term chain for every
    # (query, candidate) pair — same arithmetic, same bits, 3× fewer flops
    # in the pair stage (guide §2.3: shrink per-row work before the join)
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    q = q.withColumn("nq2", spark_dot("qv", "qv"))
    q = guard_broadcast_query(q)
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        spark_dot("embedding", "embedding").alias("nc2"),
    )
    pairs = c.crossJoin(F.broadcast(q)).where(F.col("cid") != F.col("qid"))
    dot = spark_dot("qv", "cv")
    scored = pairs.select(
        "qid", "cid", F.round(dot / F.sqrt(F.col("nq2") * F.col("nc2")), 12).alias("cosine")
    )
    win = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .select("qid", "cid", "rank", F.round("cosine", 9).alias("cosine"))
    )


@query(
    "ann_lsh_bucket",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding, {sql_lsh_bucket('embedding', 8)} AS bucket
        FROM embeddings
    ), q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM b WHERE vec_id % 100 = 0),
    pairs AS (
        SELECT q.qid, c.vec_id AS cid, q.bucket,
               {sql_dot('q.qv', 'c.embedding')} AS dot,
               {sql_dot('q.qv', 'q.qv')} AS nq2,
               {sql_dot('c.embedding', 'c.embedding')} AS nc2
        FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.qid
    ), scored AS (
        SELECT qid, cid, bucket, round(dot / sqrt(nq2 * nc2), 12) AS cosine FROM pairs
    )
    SELECT qid, cid, bucket, rank, round(cosine, 9) AS cosine FROM (
        SELECT qid, cid, bucket, cosine,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 3
    """,
    tags=("llm", "similarity"),
)
def ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path): 8 random-hyperplane sign bits →
    256 buckets; candidates only within the query's bucket, then exact
    cosine re-rank. The bucket column is a plain equi-join key, so at scale
    this is one shuffle on a low-cardinality key instead of a cross join.
    Hyperplanes are plan-time literal constants — identical in the oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id", "embedding", spark_lsh_bucket("embedding", _N_PLANES).alias("bucket")
    )
    # per-vector self-norms computed once per side, not per candidate pair
    # (same rewrite as ann_cosine_topk — bit-identical arithmetic)
    q = b.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        "bucket",
        spark_dot("embedding", "embedding").alias("nq2"),
    )
    c = b.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("bucket").alias("cbucket"),
        spark_dot("embedding", "embedding").alias("nc2"),
    )
    pairs = c.join(F.broadcast(q), (F.col("bucket") == F.col("cbucket")) & (F.col("cid") != F.col("qid")))
    dot = spark_dot("qv", "cv")
    scored = pairs.select(
        "qid", "cid", "bucket", F.round(dot / F.sqrt(F.col("nq2") * F.col("nc2")), 12).alias("cosine")
    )
    win = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= 3)
        .select("qid", "cid", "bucket", "rank", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

from rwa_calculator_spark.operators.multimodal import (  # noqa: E402
    documents_as_binary,
    extract_features,
)


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(text) AS BIGINT) AS first_byte
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the real mapInPandas
    pipeline (operators/multimodal.py): documents modelled as opaque utf-8
    payloads + typed metadata, features out as narrow columns. The decode
    step proper is a clearly-marked stub; byte length and first byte are
    oracle-checkable, the checksum is covered by unit tests."""
    d = load_table(spark, sf_dir, "documents")
    feats = extract_features(documents_as_binary(d))
    return feats.select("doc_id", "n_bytes", "first_byte")


_IVF_K = 16  # coarse-quantizer cells
_IVF_NPROBE = 2


def _ivf_oracle() -> str:
    return f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < {_IVF_K}
    ), assigned AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               round({sql_dot('e.embedding', 'c.cv')}
                     / sqrt({sql_dot('e.embedding', 'e.embedding')} * {sql_dot('c.cv', 'c.cv')}), 12) AS sim
        FROM embeddings e CROSS JOIN cent c
    ), cells AS (
        SELECT vec_id, embedding, centroid_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
            FROM assigned)
        WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS qid, embedding AS qv, centroid_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
            FROM assigned WHERE vec_id % 100 = 0)
        WHERE rn <= {_IVF_NPROBE}
    ), pairs AS (
        SELECT p.qid, c.vec_id AS cid,
               round({sql_dot('p.qv', 'c.embedding')}
                     / sqrt({sql_dot('p.qv', 'p.qv')} * {sql_dot('c.embedding', 'c.embedding')}), 12) AS cosine
        FROM probes p JOIN cells c ON p.cell = c.cell AND c.vec_id <> p.qid
    )
    SELECT qid, cid, rank, round(cosine, 9) AS cosine FROM (
        SELECT qid, cid, cosine,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
        FROM pairs)
    WHERE rank <= 3
    """


@query(
    "ann_ivf_probe",
    oracle=_ivf_oracle(),
    tags=("llm", "similarity"),
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the second scale path next to LSH): a deterministic
    16-cell coarse quantizer (centroids = vec_id < 16; production would
    Lloyd-refine them — assignment/probe mechanics are identical). The
    corpus is assigned to its nearest cell via a broadcast cross-join with
    the 16 centroids (one shared dot-product expression in the plan, stays
    in codegen) + a map-side-combinable max(struct) argmax — no window, no
    driver collect. Queries probe their 2 nearest cells, exact cosine
    re-rank inside the probed cells only. At scale the cell is the
    partition key: a query touches nprobe/K of the corpus instead of all
    of it."""
    e = load_table(spark, sf_dir, "embeddings")
    # per-vector self-norms once per side — the assignment cross-join was
    # re-evaluating the row's own 64-term norm for each of the 16 centroids
    # (and the centroid's for every row); bit-identical arithmetic
    e = e.withColumn("n2", spark_dot("embedding", "embedding"))
    cent = e.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    sim = F.round(
        spark_dot("embedding", "cv")
        / F.sqrt(F.col("n2") * F.col("cn2")),
        12,
    )
    assigned = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", F.col("n2"), "centroid_id", sim.alias("sim")
    )

    # corpus assignment: argmax via max(struct(sim, -centroid_id)) — struct
    # ordering gives exact tie-break parity with the oracle's row_number
    # (sim DESC, centroid_id ASC), and partial aggregation combines
    # map-side before the shuffle
    cells = (
        assigned.groupBy(F.col("vec_id").alias("cid"))
        .agg(
            F.any_value("embedding").alias("cand_v"),
            F.any_value("n2").alias("cand_n2"),
            F.max(F.struct(F.col("sim"), (-F.col("centroid_id")).alias("neg_id"))).alias("m"),
        )
        .select("cid", "cand_v", "cand_n2", (-F.col("m.neg_id")).alias("cell"))
    )

    # query probes: top-nprobe cells per query (queries are a 1% slice —
    # the window runs over 16 rows per query)
    wp = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    probes = (
        assigned.where(F.col("vec_id") % 100 == 0)
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= _IVF_NPROBE)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("n2").alias("q_n2"),
            F.col("centroid_id").alias("cell"),
        )
    )

    pairs = cells.join(F.broadcast(probes), "cell").where(F.col("cid") != F.col("qid"))
    cosine = F.round(
        spark_dot("qv", "cand_v")
        / F.sqrt(F.col("q_n2") * F.col("cand_n2")),
        12,
    )
    scored = pairs.select("qid", "cid", cosine.alias("cosine"))
    wr = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= 3)
        .select("qid", "cid", "rank", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# text analysis: Gopher-style rule filter + intra-document repetition
# ---------------------------------------------------------------------------


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len,
               CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS alpha_frac,
               CAST(len(regexp_extract_all(text, '(#|\\.\\.\\.)')) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS symbol_ratio,
               CAST(len(regexp_extract_all(text, '(^| )(the|a|of|and|to)( |$)')) AS BIGINT) AS n_stop
        FROM documents
    ), ruled AS (
        SELECT lang,
               CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
                    WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_len'
                    WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
                    WHEN alpha_frac < 0.8 THEN 'alpha_frac'
                    WHEN n_stop < 2 THEN 'stop_words'
                    ELSE 'pass' END AS first_failed_rule,
               n_words, mean_word_len
        FROM feats
    )
    SELECT lang, first_failed_rule, count(*) AS n_docs,
           sum(n_words)::BIGINT AS total_words,
           {sql_scaled_sum('mean_word_len', 6)} AS total_mwl
    FROM ruled GROUP BY 1, 2
    """,
    tags=("llm", "text"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule ladder (Rae et al. 2021 §A1.1, public):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    alphabetic-word fraction, stop-word minimum — first failing rule wins
    (the case-when ladder IS the production shape; line-level rules are
    vacuous on the single-line testdata and are deliberately omitted).
    Pure row expressions → whole-stage codegen, embarrassingly parallel
    at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    mwl = F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words.cast(
        "double"
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / n_words.cast("double")
    )
    symbol_ratio = F.regexp_count("text", F.lit(r"(#|\.\.\.)")).cast(
        "double"
    ) / n_words.cast("double")
    n_stop = F.regexp_count("text", F.lit("(^| )(the|a|of|and|to)( |$)")).cast("long")
    feats = d.select(
        "lang",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        symbol_ratio.alias("symbol_ratio"),
        n_stop.alias("n_stop"),
    )
    rule = (
        F.when((F.col("n_words") < 50) | (F.col("n_words") > 100000), "word_count")
        .when(
            (F.col("mean_word_len") < 3.0) | (F.col("mean_word_len") > 10.0),
            "mean_word_len",
        )
        .when(F.col("symbol_ratio") > 0.1, "symbol_ratio")
        .when(F.col("alpha_frac") < 0.8, "alpha_frac")
        .when(F.col("n_stop") < 2, "stop_words")
        .otherwise("pass")
    )
    return (
        feats.select("lang", rule.alias("first_failed_rule"), "n_words", "mean_word_len")
        .groupBy("lang", "first_failed_rule")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            scaled_sum(F.col("mean_word_len"), 6).alias("total_mwl"),
        )
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH grams AS (
        SELECT doc_id, lang, unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
               )) AS gram
        FROM documents
    ), per_gram AS (
        SELECT doc_id, lang, gram, count(*) AS cnt
        FROM grams GROUP BY 1, 2, 3
    ), per_doc AS (
        SELECT doc_id, lang,
               sum(cnt)::BIGINT AS total_grams,
               count(*) AS distinct_grams,
               max(cnt)::BIGINT AS top_gram_count
        FROM per_gram GROUP BY 1, 2
    ), scored AS (
        SELECT lang,
               CAST(total_grams - distinct_grams AS DOUBLE)
                   / CAST(total_grams AS DOUBLE) AS dup_frac,
               CAST(top_gram_count AS DOUBLE) / CAST(total_grams AS DOUBLE) AS top_frac
        FROM per_doc
    )
    SELECT lang,
           CASE WHEN dup_frac > 0.3 THEN 'high'
                WHEN dup_frac > 0.1 THEN 'medium'
                ELSE 'low' END AS repetition_bucket,
           count(*) AS n_docs,
           sum(CAST(round(dup_frac * 1000000.0, 0) AS BIGINT)) / CAST(1000000 AS DOUBLE) AS total_dup_frac,
           sum(CAST(round(top_frac * 1000000.0, 0) AS BIGINT)) / CAST(1000000 AS DOUBLE) AS total_top_frac
    FROM scored GROUP BY 1, 2
    """,
    tags=("llm", "text"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (Gopher §A1.2 duplicate-n-gram
    fractions, public): word-bigram duplicate fraction
    (1 − distinct/total) and top-bigram mass per doc, bucketed per lang.
    Bigrams build as a pure array transform (no self-join, no shuffle at
    the doc grain beyond the per-doc aggregate), so the plan is two keyed
    partial aggregations — the 100 TB shape."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(
            # CASE guard: sequence(1, 0) descends in Spark, so 1-word docs
            # short-circuit to an empty gram array
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN"
                " transform(sequence(1, size(split(text, ' ')) - 1),"
                " i -> concat(split(text, ' ')[i - 1], ' ', split(text, ' ')[i]))"
                " ELSE array() END"
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "lang", "gram").agg(F.count("*").alias("cnt"))
    per_doc = per_gram.groupBy("doc_id", "lang").agg(
        F.sum("cnt").alias("total_grams"),
        F.count("*").alias("distinct_grams"),
        F.max("cnt").alias("top_gram_count"),
    )
    scored = per_doc.select(
        "lang",
        (
            (F.col("total_grams") - F.col("distinct_grams")).cast("double")
            / F.col("total_grams").cast("double")
        ).alias("dup_frac"),
        (
            F.col("top_gram_count").cast("double") / F.col("total_grams").cast("double")
        ).alias("top_frac"),
    )
    bucket = (
        F.when(F.col("dup_frac") > 0.3, "high")
        .when(F.col("dup_frac") > 0.1, "medium")
        .otherwise("low")
    )
    return scored.select("lang", bucket.alias("repetition_bucket"), "dup_frac", "top_frac").groupBy(
        "lang", "repetition_bucket"
    ).agg(
        F.count("*").alias("n_docs"),
        scaled_sum(F.col("dup_frac"), 6).alias("total_dup_frac"),
        scaled_sum(F.col("top_frac"), 6).alias("total_top_frac"),
    )


_SQL_5GRAM = """list_transform(
        generate_series(1, len(string_split(text, ' ')) - 4),
        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
             || ' ' || string_split(text, ' ')[i + 2] || ' ' || string_split(text, ' ')[i + 3]
             || ' ' || string_split(text, ' ')[i + 4])"""


@query(
    "decontamination_ngram_overlap",
    oracle=f"""
    WITH eval_grams AS (
        SELECT DISTINCT unnest({_SQL_5GRAM}) AS gram
        FROM documents WHERE doc_id % 10 = 0
    ), train_grams AS (
        SELECT DISTINCT doc_id, lang, unnest({_SQL_5GRAM}) AS gram
        FROM documents WHERE doc_id % 10 <> 0
    ), contaminated AS (
        SELECT DISTINCT t.doc_id, t.lang
        FROM train_grams t JOIN eval_grams e ON t.gram = e.gram
    ), train_docs AS (
        SELECT doc_id, lang FROM documents WHERE doc_id % 10 <> 0
    )
    SELECT d.lang,
           count(*) AS n_train_docs,
           sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
           round(CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS contamination_rate
    FROM train_docs d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    GROUP BY d.lang
    """,
    tags=("llm", "dedup", "decontamination"),
)
def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by exact 5-gram overlap (the public
    GPT-3 Appendix C / PaLM pipeline shape): a training document is
    contaminated when it shares ANY word 5-gram with the held-out
    evaluation set (here: doc_id % 10 == 0). The eval gram set is
    dimension-sized → broadcast semi-join against exploded training
    grams; at 100 TB the eval set stays benchmark-sized so the plan is
    one broadcast probe + a distinct at doc grain — no shuffle of the
    corpus beyond the per-doc flag aggregation."""
    d = load_table(spark, sf_dir, "documents")
    # CASE guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) rather than
    # returning empty, so sub-5-word docs must short-circuit to array()
    gram_expr = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 5 THEN"
        " transform(sequence(1, size(split(text, ' ')) - 4),"
        " i -> concat_ws(' ', slice(split(text, ' '), i, 5)))"
        " ELSE array() END"
    )
    eval_grams = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(F.explode(gram_expr).alias("gram"))
        .distinct()
    )
    train = d.where(F.col("doc_id") % 10 != 0)
    train_grams = train.select(
        "doc_id", "lang", F.explode(gram_expr).alias("gram")
    ).distinct()
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "gram", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    flagged = train.select("doc_id", "lang").join(contaminated, "doc_id", "left")
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_train_docs"),
        F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_contaminated"),
        F.round(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("contamination_rate"),
    )


# ---------------------------------------------------------------------------
# corpus-level segment dedup (C4-style line dedup)
# ---------------------------------------------------------------------------

@query(
    "dedup_lines_corpus",
    oracle="""
    WITH segs AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(w, (i-1)*8+1, (i-1)*8+8), ' ') AS seg
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(generate_series(1,
                 CAST(ceil(CAST(len(w) AS DOUBLE)/8.0) AS BIGINT))) AS i)
    ), freq AS (
        SELECT seg, count(*) AS n FROM segs GROUP BY seg
    ), kept AS (
        SELECT s.doc_id, s.pos, s.seg, f.n >= 2 AS dup
        FROM segs s JOIN freq f ON s.seg = f.seg
    )
    SELECT doc_id,
           count(*) AS n_segments,
           sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           coalesce(string_agg(CASE WHEN NOT dup THEN seg END, ' ' ORDER BY pos), '') AS text_kept
    FROM kept GROUP BY doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_lines_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level segment (line) deduplication — the C4/CCNet rule:
    drop any line occurring >= 2 times ACROSS the whole corpus, keeping
    the document otherwise (C4 uses three-sentence spans, CCNet hashed
    paragraphs; same dataflow). Spark shape: posexplode segments →
    global segment-frequency aggregation (map-side combinable count) →
    join back on the segment key → filter → ordered reassembly via
    sort_array(collect_list(struct(pos, seg))). Two shuffles (segment
    key, doc key), both on bounded-width rows; no driver collect — the
    100 TB plan is identical with the frequency side optionally
    broadcast after a min-count pre-filter."""
    d = load_table(spark, sf_dir, "documents")
    segs_expr = F.expr(
        "transform(sequence(1, cast(ceil(size(split(text, ' '))/8.0) as int)),"
        " i -> concat_ws(' ', slice(split(text, ' '), (i-1)*8+1, 8)))"
    )
    segs = d.select(
        "doc_id", F.posexplode(segs_expr).alias("pos0", "seg")
    ).withColumn("pos", F.col("pos0") + 1).drop("pos0")
    freq = segs.groupBy("seg").agg(F.count("*").alias("n"))
    kept = segs.join(freq, "seg").withColumn("dup", F.col("n") >= 2)
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("dup").cast("int")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(~F.col("dup"), F.struct("pos", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_kept"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"
_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "pii_redaction",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, lang,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                       ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_IP_RE}')) AS INT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_IP_RE}', '<IP>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM seeded
    """,
    tags=("llm", "pii"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection and redaction over a deterministically PII-seeded
    corpus (the testdata is synthetic word soup, so both engines inject
    the same emails/phones/IPs first — the operator under test is the
    detect/redact pass). Pure JVM regexp expressions (regexp_extract_all
    + regexp_replace), no UDF: per-row, shuffle-free, whole-stage
    codegen; the identical plan holds at 100 TB. Order of replacement is
    email → IP → phone so an IP octet pair is never half-eaten by the
    phone pattern."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    F.col("doc_id") % 256,
                    F.lit("."),
                    (F.col("doc_id") * 7) % 256,
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    return seeded.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all("text", F.lit(_IP_RE), 0)).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
                _IP_RE,
                "<IP>",
            ),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# multimodal: REAL PNG decode round-trip
# ---------------------------------------------------------------------------


@query(
    "multimodal_pixel_stats",
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               8 + doc_id % 9 AS w,
               8 + doc_id % 7 AS h
        FROM documents WHERE doc_id % 20 = 0
    ), px AS (
        SELECT d.doc_id, d.w, d.h,
               CAST((d.doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS DOUBLE) AS v
        FROM docs d,
             LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
             LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           round(avg(v), 6) AS mean_luma,
           round(sqrt(avg(v * v) - avg(v) * avg(v)), 6) AS pixel_std
    FROM px GROUP BY doc_id, w, h
    """,
    tags=("llm", "multimodal"),
)
def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the stdlib PNG codec
    (operators/multimodal.py decode_png — zlib inflate + all five row
    filters, no image library): deterministic grayscale images are
    synthesised per document, ENCODED to genuine PNG bytes, shipped as a
    binary column through mapInPandas, DECODED back, and reduced to pixel
    statistics. The oracle computes the same statistics directly from the
    pixel formula — a hash match proves the codec round-trips the pixel
    array bit-exactly. Payloads never touch the driver; both hops are
    Arrow-batched mapInPandas."""
    import numpy as np
    import pandas as pd

    from rwa_calculator_spark.operators.multimodal import (
        encode_png,
        extract_pixel_features,
    )
    from rwa_calculator_spark.utils import ensure_workers_can_import

    ensure_workers_can_import(spark)
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)

    def make_payloads(it):
        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w = 8 + int(doc_id) % 9
                h = 8 + int(doc_id) % 7
                y, x = np.mgrid[0:h, 0:w]
                px = ((int(doc_id) * 31 + x * 7 + y * 13) % 256).astype(np.uint8)
                payloads.append(encode_png(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    binary = d.select("doc_id").mapInPandas(
        make_payloads, schema="doc_id long, payload binary"
    )
    return extract_pixel_features(binary)


_SEMDEDUP_TAU = 0.9
_SEMDEDUP_K = 16  # coarse clusters (same deterministic quantizer as IVF)


def _semdedup_oracle() -> str:
    return f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
        WHERE vec_id < {_SEMDEDUP_K}
    ), assigned AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               round({sql_dot('e.embedding', 'c.cv')}
                     / sqrt({sql_dot('e.embedding', 'e.embedding')} * {sql_dot('c.cv', 'c.cv')}), 12) AS sim
        FROM embeddings e CROSS JOIN cent c
    ), cells AS (
        SELECT vec_id, embedding, centroid_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
            FROM assigned)
        WHERE rn = 1
    ), pruned AS (
        SELECT DISTINCT b.cell, b.vec_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round({sql_dot('a.embedding', 'b.embedding')}
                    / sqrt({sql_dot('a.embedding', 'a.embedding')}
                           * {sql_dot('b.embedding', 'b.embedding')}), 12) >= {_SEMDEDUP_TAU}
    )
    SELECT c.cell, count(*) AS n_members,
           CAST(count(p.vec_id) AS BIGINT) AS n_pruned,
           CAST(count(*) - count(p.vec_id) AS BIGINT) AS n_kept
    FROM cells c LEFT JOIN pruned p ON c.cell = p.cell AND c.vec_id = p.vec_id
    GROUP BY c.cell
    """


@query("semdedup_prune", oracle=_semdedup_oracle(), tags=("llm", "dedup"))
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, the DCLM-scale
    recipe): embeddings are coarse-clustered by the SAME deterministic
    16-centroid quantizer as ann_ivf_probe, then near-duplicate pairs are
    detected ONLY within a cluster (cosine >= 0.9) and the higher-id member
    of each pair is pruned (keep-lowest-id, deterministic). Returns the
    per-cluster member/pruned/kept counts.

    Scale shape: the pairwise pass is per-cluster, so the quadratic term is
    bounded by the largest cluster — at 100 TB you raise K so cluster sizes
    stay ~constant (K ∝ corpus size), keeping cost ~linear; the cluster
    equi-join shuffles once on cell id and the centroid assignment is one
    broadcast of K rows. No driver collect anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    # per-vector self-norm once, reused by the centroid assignment AND both
    # sides of the within-cell pair pass (bit-identical arithmetic)
    e = e.withColumn("n2", spark_dot("embedding", "embedding"))
    cent = e.where(F.col("vec_id") < _SEMDEDUP_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    sim = F.round(
        spark_dot("embedding", "cv")
        / F.sqrt(F.col("n2") * F.col("cn2")),
        12,
    )
    assigned = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "n2", "centroid_id", sim.alias("sim")
    )
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.col("sim").desc(), "centroid_id")
    )
    cells = (
        assigned.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "n2", F.col("centroid_id").alias("cell"))
    )
    a = cells.select(
        F.col("cell"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("av"),
        F.col("n2").alias("a_n2"),
    )
    b = cells.select(
        F.col("cell").alias("b_cell"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("bv"),
        F.col("n2").alias("b_n2"),
    )
    pair_cos = F.round(
        spark_dot("av", "bv")
        / F.sqrt(F.col("a_n2") * F.col("b_n2")),
        12,
    )
    pruned = (
        a.join(b, (a.cell == b.b_cell) & (F.col("a_id") < F.col("b_id")))
        .where(pair_cos >= _SEMDEDUP_TAU)
        .select(F.col("cell"), F.col("b_id").alias("vec_id"))
        .distinct()
    )
    members = cells.groupBy("cell").agg(F.count("*").alias("n_members"))
    pruned_n = pruned.groupBy("cell").agg(F.count("*").alias("_np"))
    return (
        members.join(pruned_n, "cell", "left")
        .select(
            "cell",
            "n_members",
            F.coalesce("_np", F.lit(0)).cast("long").alias("n_pruned"),
            (F.col("n_members") - F.coalesce("_np", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic Lloyd's k-means over the embedding corpus — the IVF
# quantizer's trainer as a first-class, EXACTLY-oracled iterative
# algorithm. Cross-engine determinism protocol:
#   - init: centroid k = the embedding of vec_id k (k < K);
#   - distances: the 64 squared-difference terms are summed in one FIXED
#     left-to-right unrolled chain, generated from the same Python loop
#     for both engines — no engine-chosen summation order;
#   - argmin tiebreak on centroid id;
#   - centroid update: per-dimension FIXED-POINT mean
#     (Σ floor(v·1e6 + 0.5) as long) / n / 1e6 — integer sums are
#     order-independent, the two divisions are identical IEEE ops.
# Scale posture: assignment is a broadcast of K centroid rows against the
# N-row corpus (no shuffle on the big side); the update is one groupBy on
# K keys with 64 integer sums (map-side combined). Iterations are
# driver-scheduled — the standard Spark k-means shape.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DIM = 64
_KM_ITERS = 2


def _km_dist_spark(vec, cvec):
    # every element casts to DOUBLE before any arithmetic (the parquet
    # embeddings are float32 and the two engines promote mixed-precision
    # expressions differently), and plain multiplication, never **2 —
    # POWER() routes through libm pow() whose last ulp can differ from
    # x*x; the fixed-point inertia floor amplifies either into an
    # off-by-one at the sixth decimal. zip_with/aggregate fold seeded with
    # the first term = the unrolled chain's exact left-associated addition
    # order (the operators/similarity.py spark_dot rewrite) in a 4-node
    # expression instead of a 255-node tree.
    # (SQL lambdas with fixed names: two builds print the same plan)
    from rwa_calculator_spark.functions import sqltext as S

    def _sq(x, y):
        d = x.cast("double") - y.cast("double")
        return d * d

    z = S.zip_with(S.expr(vec), S.expr(cvec), _sq)
    fold = S.aggregate(
        S.call("slice", z, S.lit(2), S.lit(_KM_DIM - 1)),
        S.call("element_at", z, S.lit(1)),
        lambda acc, t: acc + t,
    )
    return F.expr(fold.sql)


def _km_dist_sql(v: str, c: str) -> str:
    def _d(i):
        return (
            f"(CAST({v}[{i}] AS DOUBLE) - CAST({c}[{i}] AS DOUBLE))"
        )

    expr = f"({_d(1)} * {_d(1)})"
    for i in range(2, _KM_DIM + 1):
        expr = f"({expr} + ({_d(i)} * {_d(i)}))"
    return expr


def _kmeans_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum

    dist = _km_dist_sql("e.embedding", "c.cvec")
    mean_cols = ", ".join(
        f"(CAST(sum(CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 1000000.0"
        f" + 0.5) AS BIGINT)) "
        f"AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0"
        for i in range(1, _KM_DIM + 1)
    )
    assign = """
        SELECT vec_id, embedding, cid, dist FROM (
            SELECT e.vec_id, e.embedding, c.cid, {dist} AS dist,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {dist} ASC, c.cid ASC
                   ) AS rn
            FROM emb e CROSS JOIN {cents} c
        ) WHERE rn = 1
    """
    sql = f"""
    WITH emb AS (
        SELECT vec_id, embedding FROM embeddings
    ), cents0 AS (
        SELECT vec_id AS cid, embedding AS cvec FROM emb
        WHERE vec_id < {_KM_K}
    ), a1 AS ({assign.format(dist=dist, cents='cents0')}
    ), cents1 AS (
        SELECT cid, [{mean_cols}] AS cvec FROM a1 GROUP BY cid
    ), a2 AS ({assign.format(dist=dist, cents='cents1')}
    ), cents2 AS (
        SELECT cid, [{mean_cols}] AS cvec FROM a2 GROUP BY cid
    ), final AS ({assign.format(dist=dist, cents='cents2')})
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           count(*) AS n_members,
           round({sql_scaled_sum('dist', 6)}, 6) AS inertia,
           round(min(dist), 9) AS nearest_dist
    FROM final GROUP BY 1
    """
    return sql


@query("kmeans_lloyd", oracle=_kmeans_oracle(), tags=("llm", "similarity", "tolerant"))
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic Lloyd's iterations over the embedding corpus
    (the IVF coarse-quantizer trainer as a first-class op): K=8 centroids
    seeded from the first K vectors, unrolled fixed-order distances,
    fixed-point centroid means — the DuckDB oracle replays the identical
    arithmetic, so even this ITERATIVE algorithm is value-hash checked,
    not rows-only. Reports per-cluster membership and inertia after the
    final assignment."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )

    def _assign(e: DataFrame, c: DataFrame) -> DataFrame:
        pairs = e.crossJoin(F.broadcast(c)).withColumn(
            "dist", _km_dist_spark("embedding", "cvec")
        )
        w = W.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cid").asc())
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "embedding", "cid", "dist")
        )

    def _update(a: DataFrame) -> DataFrame:
        aggs = [
            F.sum(
                F.floor(
                    F.element_at("embedding", i).cast("double") * 1_000_000.0
                    + 0.5
                ).cast("long")
            ).alias(f"_s{i}")
            for i in range(1, _KM_DIM + 1)
        ] + [F.count("*").alias("_n")]
        g = a.groupBy("cid").agg(*aggs)
        dims = [
            (
                F.col(f"_s{i}").cast("double") / F.col("_n").cast("double")
            )
            / F.lit(1_000_000.0)
            for i in range(1, _KM_DIM + 1)
        ]
        return g.select("cid", F.array(*dims).alias("cvec"))

    for _ in range(_KM_ITERS):
        cents = _update(_assign(emb, cents))
    final = _assign(emb, cents)
    return final.groupBy(F.col("cid").cast("long").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.round(scaled_sum(F.col("dist"), 6), 6).alias("inertia"),
        F.round(F.min("dist"), 9).alias("nearest_dist"),
    )
