"""Text/embedding pipeline queries (SURVEY §2.2 T1-T12) and the text
analysis operators a training-data pipeline needs (language id, quality
scoring, token counting, fingerprinting).

The embed step is the deterministic md5 hashing featurizer
(:mod:`..functions.embedding`) standing in for the OpenAI embedding API
(FIXTURES.md determinism rules), so every stage — chunk -> featurize ->
search — is oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.embedding import (
    bucket_expr,
    featurize_sparse,
    sparse_cosine,
    tokens_expr,
)
from ..operators.chunking import chunk_fixed, recursive_split
from .registry import query


@query(
    "t1_chunk_recursive",
    driver=False,
    doc="""T1: recursive character chunking, size 1000 (langchain
    defaults: overlap 200, separators ["\\n\\n","\\n"," ",""]) —
    controllers/customTrainDataController.js:61-62. Per-document
    imperative splitting is the one pandas-UDF stage of the pipeline;
    not SQL-expressible, so rows-only here + golden-value pytest
    coverage against the pure-Python reference implementation.""",
    oracle=None,
)
def t1_chunk_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return recursive_split(docs, chunk_size=1000, chunk_overlap=200).orderBy(
        "doc_id", "chunk_id"
    )


@query(
    "t2_chunk_recursive_fine",
    driver=False,
    doc="""T2: the 1500-char utility splitter (utils/textutils.js:20-24)
    exercised at a finer size (150/30) so fixture documents (<=600
    chars) actually split and overlap — same operator, different
    parameters.""",
    oracle=None,
)
def t2_chunk_recursive_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return recursive_split(docs, chunk_size=150, chunk_overlap=30).orderBy(
        "doc_id", "chunk_id"
    )


@query(
    "t1b_chunk_fixed",
    doc="""T1 (declarative variant): fixed-window chunking as a pure
    column expression — sequence + substring + posexplode; the
    oracle-checkable, codegen-friendly scale path.""",
    oracle="""
SELECT doc_id,
       CAST(i - 1 AS INT) AS chunk_id,
       substring(text, CAST((i - 1) * 100 + 1 AS INT), 100) AS text,
       CAST(length(substring(text, CAST((i - 1) * 100 + 1 AS INT), 100))
            AS INT) AS n_chars
FROM documents,
     unnest(generate_series(
         1, CAST(greatest(ceil(length(text) / 100.0), 1) AS BIGINT)))
     AS t(i)
ORDER BY doc_id, chunk_id
""",
)
def t1b_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_fixed(spark.table("documents"), size=100).orderBy(
        "doc_id", "chunk_id"
    )


@query(
    "t3_featurize_sparse",
    doc="""T3/T4: batch embed (utils/textutils.js:12-18) as the
    deterministic featurizer — token -> md5 bucket mod 256 -> tf ->
    L2 normalize; sparse (doc_id, idx, weight) output, the scalable
    form.""",
    oracle="""
WITH tok AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents WHERE doc_id < 100
),
counts AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256 AS idx,
           CAST(count(*) AS DOUBLE) AS tf
    FROM tok GROUP BY 1, 2
)
SELECT doc_id, idx,
       round(tf / sqrt(sum(tf * tf) OVER (PARTITION BY doc_id)), 6)
           AS weight
FROM counts
ORDER BY doc_id, idx
""",
)
def t3_featurize_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents").filter(F.col("doc_id") < 100)
    return (
        featurize_sparse(docs, dim=256)
        .withColumn("weight", F.round("weight", 6))
        .orderBy("doc_id", "idx")
    )


@query(
    "t5_rag_query_end_to_end",
    doc="""T5+V1+V4 (§3.1 lifecycle): the full RAG read path — embed a
    query string with the same featurizer the corpus used, score
    sparse cosine against all documents, take top-10, assemble the
    context string in similarity order. The query vector is a CONSTANT
    at plan time, so it is featurized driver-side (same md5 bucketing
    in pure Python) and folded into the doc aggregate as a literal
    when-chain: cosine = sum(tf*qw)/norm comes out of ONE
    groupBy(doc_id) with map-side combine — no per-doc window sort and
    no query-vector join. Docs sharing no bucket with the query
    (dot = 0) are excluded, matching the inverted-index-join
    semantics.""",
    oracle="""
WITH qtok AS (
    SELECT unnest(regexp_extract_all(lower(
        'spark query join filter window data'), '[a-z0-9]+')) AS token
),
qvec_raw AS (
    SELECT CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256 AS idx,
           CAST(count(*) AS DOUBLE) AS tf
    FROM qtok GROUP BY 1
),
qvec AS (
    SELECT idx, tf / sqrt(sum(tf * tf) OVER ()) AS qw FROM qvec_raw
),
dtok AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents
),
dcounts AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256 AS idx,
           CAST(count(*) AS DOUBLE) AS tf
    FROM dtok GROUP BY 1, 2
),
scored AS (
    SELECT d.doc_id,
           round(sum(d.tf * coalesce(q.qw, 0))
                 / sqrt(sum(d.tf * d.tf)), 4) AS sim
    FROM dcounts d LEFT JOIN qvec q ON d.idx = q.idx
    GROUP BY d.doc_id
    HAVING sum(d.tf * coalesce(q.qw, 0)) > 0
),
topk AS (
    SELECT doc_id, sim,
           row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
    FROM scored QUALIFY rank <= 10
)
SELECT t.rank AS rank, t.doc_id AS doc_id, t.sim AS sim,
       substr(d.text, 1, 40) AS preview
FROM topk t JOIN documents d ON d.doc_id = t.doc_id
ORDER BY rank
""",
)
def t5_rag_query_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import math
    import re
    from collections import Counter

    question = "spark query join filter window data"
    # Driver-side featurization of the constant query string — the same
    # md5-bucket/L2 math the engines run, so the literal weights are
    # bit-identical doubles to what the oracle computes in SQL.
    qtf = Counter(
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 256
        for t in re.findall("[a-z0-9]+", question.lower())
    )
    qnorm = math.sqrt(sum(v * v for v in qtf.values()))
    qw_expr = F.lit(0.0)
    for idx, tf in sorted(qtf.items()):
        qw_expr = F.when(F.col("idx") == idx, F.lit(tf / qnorm)).otherwise(
            qw_expr
        )
    from ..operators.cache import scoped_cache

    docs = spark.table("documents")
    # The (doc, bucket, tf) table is the corpus's feature index —
    # shared by every RAG query against the same corpus, so cache it
    # generationally like the dedup shingle index.
    dcounts = scoped_cache(
        docs.select(
            "doc_id", F.explode(tokens_expr(F.col("text"))).alias("token")
        )
        .select("doc_id", bucket_expr(F.col("token"), 256).alias("idx"))
        .groupBy("doc_id", "idx")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    scored = (
        dcounts.groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * qw_expr).alias("dot"),
            F.sum(F.col("tf") * F.col("tf")).alias("ss"),
        )
        .filter(F.col("dot") > 0)
        .select(
            "doc_id",
            F.round(F.col("dot") / F.sqrt(F.col("ss")), 4).alias("sim"),
        )
    )
    # Two-phase top-k: orderBy().limit() lowers to TakeOrderedAndProject
    # (per-partition heaps + driver merge of k rows), so no corpus-sized
    # single-partition WindowExec; the rank window then runs over the 10
    # survivors only. The 10-row top-k broadcasts into the text join.
    topk = (
        scored.orderBy(F.desc("sim"), "doc_id")
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("sim"), "doc_id")),
        )
    )
    return (
        docs.join(F.broadcast(topk), "doc_id")
        .select(
            "rank", "doc_id", "sim",
            F.substring("text", 1, 40).alias("preview"),
        )
        # Presentation sort dropped: rank is a column; the 10-row
        # ORDER BY's range sampler re-executed the doc join child.
    )


@query(
    "t11_token_count",
    driver=False,
    doc="""T11: tiktoken token counting
    (service/trackUsageService.js:46-49) replaced by the deterministic
    BPE-ish regex tokenizer: words + standalone non-space symbols.""",
    oracle="""
SELECT doc_id,
       CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\t\\n\\f\\r ]'))
            AS INT) AS n_tokens,
       n_chars
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
""",
)
def t11_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\t\n\f\r ]"), 0
                )
            ).alias("n_tokens"),
            "n_chars",
        )
        .orderBy("doc_id")
    )


@query(
    "t12_flatten_nested_output",
    driver=False,
    doc="""T12: recursive flatten of nested arrays to one string
    (service/trackUsageService.js:111-119) — typed input: flatten +
    concat_ws over per-thread collected message groups.""",
    fixtures_used=("conversations",),
    oracle="""
WITH grouped AS (
    SELECT conversation_id, sender,
           list_sort(list(message)) AS msgs
    FROM conversations
    WHERE conversation_id IN ('c1-0', 'c1-1', 'c2-0')
    GROUP BY conversation_id, sender
)
SELECT conversation_id,
       array_to_string(flatten(list_sort(list(msgs))), ' ') AS flat_text
FROM grouped
GROUP BY conversation_id
ORDER BY conversation_id
""",
)
def t12_flatten_nested_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    grouped = (
        spark.table("conversations")
        .filter(F.col("conversation_id").isin("c1-0", "c1-1", "c2-0"))
        .groupBy("conversation_id", "sender")
        .agg(F.array_sort(F.collect_list("message")).alias("msgs"))
    )
    return (
        grouped.groupBy("conversation_id")
        .agg(
            F.concat_ws(
                " ", F.flatten(F.array_sort(F.collect_list("msgs")))
            ).alias("flat_text")
        )
        .orderBy("conversation_id")
    )


# ---------------------------------------------------------------------------
# Text analysis for the training-data pipeline (beyond the reference)
# ---------------------------------------------------------------------------


@query(
    "text_quality_score",
    doc="""Quality scoring for corpus filtering: word count, mean word
    length, stopword ratio, symbol ratio, and a composite keep/drop
    flag — the standard pre-training heuristics, all JVM-side.""",
    oracle="""
WITH stats AS (
    SELECT doc_id, n_chars,
           CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+'))
                AS BIGINT) AS n_words,
           CAST(length(regexp_extract_all(lower(text),
                '\\b(the|a|of|and|to|in|is|for)\\b')) AS BIGINT)
               AS n_stop,
           CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                AS BIGINT) AS n_sym
    FROM documents
)
SELECT doc_id, n_words,
       round(CAST(n_chars AS DOUBLE) / greatest(n_words, 1), 4)
           AS mean_word_len,
       round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 4)
           AS stopword_ratio,
       round(CAST(n_sym AS DOUBLE) / greatest(n_chars, 1), 4)
           AS symbol_ratio,
       (n_words >= 10
        AND CAST(n_stop AS DOUBLE) / greatest(n_words, 1) >= 0.05
        AND CAST(n_sym AS DOUBLE) / greatest(n_chars, 1) < 0.1)
           AS keep
FROM stats
ORDER BY doc_id
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Regex counting is SIZE-GATED (operators/text.with_regex_counts,
    # r4): below the byte threshold the JVM regexp_count branch counts
    # matches without materializing match arrays or paying a Python
    # round-trip; above it ONE mapInArrow pass evaluates the patterns
    # with pyarrow's linear-time RE2 (~10x java.util.regex on these
    # char-class scans at sf10 — the regex engine, not the plan, was
    # the residual gap vs the oracle). Values identical on both
    # branches (pinned by test_regex_counts_gate_flips_strategy).
    from ..operators.text import with_regex_counts
    from ..session import table_path
    from ..sources.parquet_io import parquet_bytes_on_disk

    src_bytes = parquet_bytes_on_disk(table_path(sf_dir, "documents"))
    # No presentation sort on either branch (r11): the result SET is
    # the contract (the gate hashes order-insensitively), and every
    # sort placement was overhead bought only for output ordering —
    # the small branch's pre-projection global sort paid a full range
    # exchange of the raw docs, the Arrow branch a scoped cache plus a
    # stats sort. Dropping the sort makes the small branch a pure
    # map-only plan (scan → regex projection, ZERO exchanges).
    docs = spark.table("documents").select("doc_id", "n_chars", "text")
    # drop_cols: the text payload crosses the Python boundary once
    # (in), never back out — a post-hoc .drop cannot un-ship what the
    # opaque Arrow function already returned (r11, guide §4.1).
    stats = with_regex_counts(
        docs,
        [
            ("n_words", "[a-z0-9]+", True),
            ("n_stop", r"\b(the|a|of|and|to|in|is|for)\b", True),
            ("n_sym", "[^a-zA-Z0-9 ]", False),
        ],
        src_bytes=src_bytes,
        drop_cols=("text",),
    )
    mean_word_len = F.col("n_chars").cast("double") / F.greatest(
        F.col("n_words"), F.lit(1)
    )
    stop_ratio = F.col("n_stop").cast("double") / F.greatest(
        F.col("n_words"), F.lit(1)
    )
    sym_ratio = F.col("n_sym").cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1)
    )
    out = stats.select(
        "doc_id",
        "n_words",
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        (
            (F.col("n_words") >= 10)
            & (stop_ratio >= 0.05)
            & (sym_ratio < 0.1)
        ).alias("keep"),
    )
    return out


@query(
    "text_lang_id",
    driver=False,
    doc="""Language identification by marker-token scoring — count hits
    against per-language function-word lists, pick argmax with a
    deterministic tie-break; 'und' when nothing matches. (n-gram
    heuristic family; the fixture `lang` column is the ground-truth
    label to compare against downstream.)""",
    oracle="""
WITH scores AS (
    SELECT doc_id, lang AS labeled_lang,
           CAST(length(regexp_extract_all(lower(text),
               '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS en_score,
           CAST(length(regexp_extract_all(lower(text),
               '\\b(el|la|de|que|los)\\b')) AS BIGINT) AS es_score,
           CAST(length(regexp_extract_all(lower(text),
               '\\b(der|die|und|das|ist)\\b')) AS BIGINT) AS de_score
    FROM documents WHERE doc_id < 300
)
SELECT doc_id, labeled_lang, en_score, es_score, de_score,
       CASE
           WHEN en_score = 0 AND es_score = 0 AND de_score = 0 THEN 'und'
           WHEN en_score >= es_score AND en_score >= de_score THEN 'en'
           WHEN es_score >= de_score THEN 'es'
           ELSE 'de'
       END AS predicted_lang
FROM scores
ORDER BY doc_id
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import java_ascii_pattern

    def score(words: str):
        # ASCII-\b rewrite: Java's Unicode \b would absorb markers
        # adjacent to accented letters into one word and under-count
        # vs the RE2 oracle (and vs text_curation_verdict, which
        # scores through the gated operator).
        return F.regexp_count(
            F.lower("text"),
            F.lit(java_ascii_pattern(rf"\b({words})\b")),
        ).cast("long")

    scores = (
        spark.table("documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            score("the|and|of|to|is").alias("en_score"),
            score("el|la|de|que|los").alias("es_score"),
            score("der|die|und|das|ist").alias("de_score"),
        )
    )
    return scores.select(
        "*",
        F.when(
            (F.col("en_score") == 0)
            & (F.col("es_score") == 0)
            & (F.col("de_score") == 0),
            "und",
        )
        .when(
            (F.col("en_score") >= F.col("es_score"))
            & (F.col("en_score") >= F.col("de_score")),
            "en",
        )
        .when(F.col("es_score") >= F.col("de_score"), "es")
        .otherwise("de")
        .alias("predicted_lang"),
    ).orderBy("doc_id")


@query(
    "text_fingerprint",
    driver=False,
    doc="""Document fingerprinting: whole-document content hash over
    whitespace-normalized lowercase text, plus a winnowing-style
    min-shingle fingerprint (min md5 over 5-token shingles) — the
    canonical-content keys the dedup family joins on.""",
    oracle="""
WITH norm AS (
    SELECT doc_id,
           regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS ntext
    FROM documents WHERE doc_id < 200
),
tok AS (
    SELECT doc_id, ntext,
           regexp_extract_all(ntext, '[a-z0-9]+') AS toks
    FROM norm
),
shingles AS (
    SELECT doc_id,
           min(md5(array_to_string(toks[i:i+4], ' '))) AS min_shingle
    FROM tok,
         unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS t(i)
    GROUP BY doc_id
)
SELECT n.doc_id AS doc_id,
       md5(n.ntext) AS content_hash,
       s.min_shingle AS min_shingle
FROM norm n JOIN shingles s ON s.doc_id = n.doc_id
ORDER BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SAME canonicalization the dedup family keys on
    # (operators/dedup.normalized_text) — these fingerprints are
    # documented as join keys against that family, so the rule must
    # have exactly one definition.
    from ..operators.dedup import normalized_text

    norm = (
        spark.table("documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            normalized_text(F.col("text")).alias("ntext"),
        )
    )
    tok = norm.select(
        "doc_id",
        "ntext",
        F.regexp_extract_all("ntext", F.lit("[a-z0-9]+"), 0).alias("toks"),
    )
    shingles = (
        tok.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size("toks") - 4, F.lit(1)),
                    ),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("toks", i, 5))
                    ),
                )
            ).alias("shingle_hash"),
        )
        .groupBy("doc_id")
        .agg(F.min("shingle_hash").alias("min_shingle"))
    )
    return (
        norm.join(shingles, "doc_id")
        .select("doc_id", F.md5("ntext").alias("content_hash"), "min_shingle")
        .orderBy("doc_id")
    )


@query(
    "t8_vector_record_assembly",
    driver=False,
    doc="""T8: vector record assembly {id, values, metadata}
    (controllers/embeddingController.js:33-37) with deterministic
    surrogate ids (md5, standing in for uuidv4 per FIXTURES.md) and a
    JSON metadata string.""",
    oracle="""
SELECT vec_id,
       md5('vec-' || CAST(vec_id AS STRING)) AS record_id,
       CAST(len(embedding) AS INT) AS dims,
       '{"label":' || CAST(label AS STRING) || '}' AS metadata
FROM embeddings
WHERE vec_id < 100
ORDER BY vec_id
""",
)
def t8_vector_record_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            "vec_id",
            F.md5(
                F.concat(F.lit("vec-"), F.col("vec_id").cast("string"))
            ).alias("record_id"),
            F.size("embedding").alias("dims"),
            F.concat(
                F.lit('{"label":'),
                F.col("label").cast("string"),
                F.lit("}"),
            ).alias("metadata"),
        )
        .orderBy("vec_id")
    )


@query(
    "text_curation_verdict",
    doc="""End-to-end curation decision — the materialization a
    training-data pipeline actually ships: one row per corpus doc with
    every filter signal (exact-dup canonicality, language id, length,
    stopword/symbol quality ratios) and the final keep/drop verdict
    with the first failing rule as the drop reason. One corpus scan +
    one content-hash window; every signal is a JVM-side expression, so
    the whole verdict is a single codegen'd pass at any scale.""",
    fixtures_used=("corpus",),
    oracle="""
WITH sig AS (
    SELECT doc_id, text,
           length(text) AS n_chars,
           md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
               AS chash,
           CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+'))
                AS BIGINT) AS n_words,
           CAST(length(regexp_extract_all(lower(text),
                '\\b(the|a|of|and|to|in|is|for)\\b')) AS BIGINT)
               AS n_stop,
           CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                AS BIGINT) AS n_sym,
           CAST(length(regexp_extract_all(lower(text),
               '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS en_score,
           CAST(length(regexp_extract_all(lower(text),
               '\\b(el|la|de|que|los)\\b')) AS BIGINT) AS es_score,
           CAST(length(regexp_extract_all(lower(text),
               '\\b(der|die|und|das|ist)\\b')) AS BIGINT) AS de_score
    FROM corpus
),
canon AS (
    SELECT s.*,
           min(doc_id) OVER (PARTITION BY chash) AS canonical_id
    FROM sig s
),
verdict AS (
    SELECT doc_id,
           n_words,
           round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 4)
               AS stopword_ratio,
           round(CAST(n_sym AS DOUBLE) / greatest(n_chars, 1), 4)
               AS symbol_ratio,
           CASE
               WHEN en_score = 0 AND es_score = 0 AND de_score = 0
                   THEN 'und'
               WHEN en_score >= es_score AND en_score >= de_score
                   THEN 'en'
               WHEN es_score >= de_score THEN 'es'
               ELSE 'de'
           END AS predicted_lang,
           doc_id <> canonical_id AS is_dup_copy
    FROM canon
)
SELECT doc_id, n_words, stopword_ratio, symbol_ratio, predicted_lang,
       is_dup_copy,
       CASE
           WHEN is_dup_copy THEN 'exact_dup'
           WHEN n_words < 10 THEN 'too_short'
           WHEN predicted_lang = 'und' THEN 'unknown_lang'
           WHEN stopword_ratio < 0.05 THEN 'low_stopword'
           WHEN symbol_ratio >= 0.1 THEN 'high_symbol'
       END AS drop_reason,
       (NOT is_dup_copy AND n_words >= 10
        AND predicted_lang <> 'und'
        AND stopword_ratio >= 0.05 AND symbol_ratio < 0.1) AS keep
FROM verdict
ORDER BY doc_id
""",
)
def text_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.dedup import content_hash
    from ..operators.text import with_regex_counts
    from ..session import table_path
    from ..sources.parquet_io import parquet_bytes_on_disk

    # The six counts go through the size-gated regex scorer (JVM at
    # fixture scale, Arrow/RE2 past it — operators/text.py); md5 +
    # length stay JVM exprs either way. Gate on the documents file as
    # the corpus-size proxy (corpus = documents + ~33% plants), like
    # the char-ngram cap gate.
    src_bytes = parquet_bytes_on_disk(table_path(sf_dir, "documents"))
    base = spark.table("corpus").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        content_hash(F.col("text")).alias("chash"),
        "text",
    )
    sig = with_regex_counts(
        base,
        [
            ("n_words", "[a-z0-9]+", True),
            ("n_stop", r"\b(the|a|of|and|to|in|is|for)\b", True),
            ("n_sym", "[^a-zA-Z0-9 ]", False),
            ("en_score", r"\b(the|and|of|to|is)\b", True),
            ("es_score", r"\b(el|la|de|que|los)\b", True),
            ("de_score", r"\b(der|die|und|das|ist)\b", True),
        ],
        src_bytes=src_bytes,
        drop_cols=("text",),  # ship text into Arrow once, not back
    )
    canon = sig.withColumn(
        "canonical_id", F.min("doc_id").over(W.partitionBy("chash"))
    )
    stopword_ratio = F.round(
        F.col("n_stop").cast("double") / F.greatest(F.col("n_words"), F.lit(1)),
        4,
    )
    symbol_ratio = F.round(
        F.col("n_sym").cast("double") / F.greatest(F.col("n_chars"), F.lit(1)),
        4,
    )
    predicted_lang = (
        F.when(
            (F.col("en_score") == 0)
            & (F.col("es_score") == 0)
            & (F.col("de_score") == 0),
            "und",
        )
        .when(
            (F.col("en_score") >= F.col("es_score"))
            & (F.col("en_score") >= F.col("de_score")),
            "en",
        )
        .when(F.col("es_score") >= F.col("de_score"), "es")
        .otherwise("de")
    )
    verdict = canon.select(
        "doc_id",
        "n_words",
        stopword_ratio.alias("stopword_ratio"),
        symbol_ratio.alias("symbol_ratio"),
        predicted_lang.alias("predicted_lang"),
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup_copy"),
    )
    drop_reason = (
        F.when(F.col("is_dup_copy"), "exact_dup")
        .when(F.col("n_words") < 10, "too_short")
        .when(F.col("predicted_lang") == "und", "unknown_lang")
        .when(F.col("stopword_ratio") < 0.05, "low_stopword")
        .when(F.col("symbol_ratio") >= 0.1, "high_symbol")
    )
    keep = (
        ~F.col("is_dup_copy")
        & (F.col("n_words") >= 10)
        & (F.col("predicted_lang") != "und")
        & (F.col("stopword_ratio") >= 0.05)
        & (F.col("symbol_ratio") < 0.1)
    )
    return verdict.select(
        "*", drop_reason.alias("drop_reason"), keep.alias("keep")
    ).orderBy("doc_id")


@query(
    "text_repetition_ratio",
    driver=False,
    doc="""Within-document repetition (Gopher/RefinedWeb-style quality
    rule): fraction of word-3-gram occurrences that are repeats of an
    earlier occurrence in the SAME doc — boilerplate and degenerate
    generations score high. Pure per-doc expression work (tokenize,
    hash, count vs distinct-count) — no joins, no shuffle beyond the
    final groupBy; flags docs over the 0.2 threshold.""",
    fixtures_used=("corpus",),
    oracle="""
WITH tok AS (
    SELECT doc_id,
           regexp_extract_all(
               regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'),
               '[a-z0-9]+') AS toks
    FROM corpus
),
grams AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')),
                 1, 15)) AS BIGINT) AS shingle
    FROM tok,
         unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS t(i)
),
stats AS (
    SELECT doc_id,
           count(*) AS n_grams,
           count(DISTINCT shingle) AS n_distinct
    FROM grams GROUP BY doc_id
)
SELECT doc_id, n_grams,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4)
           AS repetition_ratio,
       (1.0 - CAST(n_distinct AS DOUBLE) / n_grams) >= 0.2 AS flagged
FROM stats
ORDER BY doc_id
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import hash60, normalized_text

    toks = spark.table("corpus").select(
        "doc_id",
        F.regexp_extract_all(
            normalized_text(F.col("text")), F.lit("[a-z0-9]+"), 0
        ).alias("_toks"),
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("_toks") - 2, F.lit(1))
                ),
                lambda i: hash60(F.concat_ws(" ", F.slice("_toks", i, 3))),
            )
        ).alias("shingle"),
    )
    stats = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count_distinct("shingle").alias("n_distinct"),
    )
    ratio = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col(
        "n_grams"
    )
    return stats.select(
        "doc_id",
        "n_grams",
        F.round(ratio, 4).alias("repetition_ratio"),
        (ratio >= 0.2).alias("flagged"),
    ).orderBy("doc_id")


@query(
    "text_pii_scrub",
    driver=False,
    doc="""PII scrubbing: redact email addresses and US-style phone
    numbers with typed placeholders and count the redactions — the
    map-side-only compliance pass every released corpus needs. Pure
    regexp_replace/regexp_extract_all expressions, zero shuffle except
    the final sort; rows with no PII pass through byte-identical.""",
    oracle="""
SELECT doc_id,
       regexp_replace(
           regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
               '<EMAIL>', 'g'),
           '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')
           AS scrubbed,
       CAST(length(regexp_extract_all(text,
           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
           AS BIGINT) AS n_emails,
       CAST(length(regexp_extract_all(text,
           '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phones
FROM documents
WHERE doc_id < 500
ORDER BY doc_id
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
    return (
        spark.table("documents")
        .filter(F.col("doc_id") < 500)
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace(F.col("text"), email, "<EMAIL>"),
                phone,
                "<PHONE>",
            ).alias("scrubbed"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(email), 0)
            ).cast("long").alias("n_emails"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(phone), 0)
            ).cast("long").alias("n_phones"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_heavy_hitters_sketch",
    driver=False,
    doc="""Exact top-20 word bigrams, COST-GATED between two plans
    with the identical answer (operators/sketch.py, VERDICT r8 #3):
    below the source-bytes gate, one JVM hash aggregate (map-side
    partial counting — the shuffle carries distinct grams, not the
    stream); above it, the Misra-Gries summary-then-verify plan —
    per-partition bounded-memory MG summaries (one pass, NO shuffle
    of the raw gram stream), union of the tiny summaries as a
    broadcast candidate set, then one exact counting pass restricted
    to candidates. The output is EXACT either way — the sketch bounds
    the WORK, never the answer — which is what lets one DuckDB
    groupBy oracle pin both arms. At 100 TB (vocabulary-explosion
    regime, where partial aggregation stops collapsing) the MG arm
    replaces the full gram-domain shuffle with
    O(partitions * k_counters) summary rows plus a candidate-pruned
    count; measured walls for both arms at sf0.1/sf1 are in
    BENCH_EXTRAS*.json.""",
    oracle="""
WITH tok AS (
    SELECT regexp_extract_all(
               regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'),
               '[a-z0-9]+') AS toks
    FROM documents
),
grams AS (
    SELECT array_to_string(toks[i:i+1], ' ') AS gram
    FROM tok, unnest(generate_series(1, len(toks) - 1)) AS t(i)
    WHERE len(toks) >= 2
)
SELECT gram, count(*) AS n
FROM grams GROUP BY gram
ORDER BY n DESC, gram
LIMIT 20
""",
)
def text_heavy_hitters_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import normalized_text
    from ..operators.sketch import heavy_hitters_exact

    docs = spark.table("documents")
    # Same under-parallel guard as operators/text.with_regex_counts:
    # a single-file corpus plans as ONE input partition, which would
    # serialize tokenize+explode onto one worker; a many-file
    # cluster-scale table already scans wide and skips the shuffle.
    cores = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < cores:
        docs = docs.repartition(cores)
    toks = docs.select(
        F.regexp_extract_all(
            normalized_text(F.col("text")), F.lit("[a-z0-9]+"), 0
        ).alias("_toks")
    ).filter(F.size("_toks") >= 2)
    # zip_with over the shifted array beats transform+sequence+slice
    # 3.6x (slice re-seeks per position; zip_with walks both arrays
    # once) — measured at sf1, BENCH_EXTRAS_SF1 heavy-hitters entry.
    grams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("_toks", 1, F.size("_toks") - 1),
                F.slice("_toks", 2, F.size("_toks") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("gram")
    )
    # k_counters=1024 exceeds the fixture's possible bigram domain, so
    # the guarantee precondition (20th frequency > N/k) holds
    # trivially here; the decrement path is exercised by the Zipf unit
    # test in tests/test_dedup.py. source_bytes = the documents
    # table's on-disk size, feeding the direct-vs-MG cost gate
    # (unknown = LARGE = MG arm, the repo's standard posture).
    from ..session import table_path
    from ..sources.parquet_io import parquet_bytes_on_disk

    return heavy_hitters_exact(
        grams, "gram", top=20, k_counters=1024,
        source_bytes=parquet_bytes_on_disk(
            table_path(sf_dir, "documents")
        ),
    )


@query(
    "text_cms_freq",
    driver=False,
    doc="""Count-min sketch frequency estimation (Cormode &
    Muthukrishnan 2005) over the document token stream: a 4x512
    counter grid built in ONE map-side-combined aggregation (every
    executor emits at most depth*width partial rows no matter how
    many tokens or distinct terms it saw), point-queried for the
    exact top-20 tokens. Output per token: exact count, CMS estimate,
    and the overcount (collision mass) — never negative, the sketch's
    one-sided guarantee.

    The companion to `text_heavy_hitters_sketch`'s Misra-Gries plan:
    MG answers "which items are frequent" with a candidate set, CMS
    answers "how frequent is THIS item" with fixed memory. Counters
    are linear, so sketches of two corpora (or of a stream's
    micro-batches) merge by summing (r, b) cells — the property that
    makes this the 100 TB shape for per-term stats where a
    groupBy(token) would shuffle the whole vocabulary.

    Hash rows are lanes of ONE md5, parsed ONCE: hex digits [1, 16)
    of md5(token) as a 60-bit integer, lane r = bit window
    [15r, 15r+15) mod width (the hex->int parse costs as much as the
    md5 itself — one parse instead of four halved the sf10 sketch
    wall), with the identical expression in Spark and DuckDB, so the
    ENTIRE sketch — every counter, every estimate — is
    value-parity-checked in SQL (an approximate structure with an
    exact oracle, the `ann_bq_hamming_topk` discipline).""",
    oracle="""
WITH tok AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents
),
h AS (
    SELECT token,
           CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h64
    FROM tok
),
sketch AS (
    SELECT rr.r,
           (h64 // CAST(POWER(2, 15 * rr.r) AS BIGINT)) % 512 AS b,
           CAST(count(*) AS BIGINT) AS c
    FROM h, unnest([0, 1, 2, 3]) AS rr(r)
    GROUP BY 1, 2
),
exact AS (
    SELECT token, CAST(count(*) AS BIGINT) AS exact_n
    FROM tok GROUP BY token
    ORDER BY exact_n DESC, token LIMIT 20
),
probe AS (
    SELECT e.token, e.exact_n, rr.r,
           (CAST(('0x' || substr(md5(e.token), 1, 15)) AS BIGINT)
              // CAST(POWER(2, 15 * rr.r) AS BIGINT)) % 512 AS b
    FROM exact e, unnest([0, 1, 2, 3]) AS rr(r)
)
SELECT p.token, p.exact_n,
       CAST(min(s.c) AS BIGINT) AS cms_est,
       CAST(min(s.c) - p.exact_n AS BIGINT) AS overcount
FROM probe p JOIN sketch s USING (r, b)
GROUP BY p.token, p.exact_n
ORDER BY p.exact_n DESC, p.token
""",
)
def text_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.embedding import tokens_expr
    from ..operators.cache import scoped_cache
    from ..operators.sketch import cms_counters, cms_estimate

    tok = scoped_cache(
        spark.table("documents").select(
            F.explode(tokens_expr(F.col("text"))).alias("token")
        )
    )
    sketch = cms_counters(tok, "token", depth=4, width=512)
    exact = (
        tok.groupBy("token")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "token")
        .limit(20)
    )
    est = cms_estimate(sketch, exact, "token", depth=4, width=512)
    return est.select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.desc("exact_n"), "token")


@query(
    "t13_pack_sequences",
    doc="""Training-sequence packing — the GPT-style concat-and-chunk
    step of a pretraining data pipeline: documents are concatenated in
    a deterministic order and split into fixed 256-token sequences,
    documents spanning a boundary are split across the two sequences.
    Stands in for the reference's context-window assembly
    (controllers/conversationController.js:38-45 packs retrieved chunks
    into the prompt budget the same way).

    Scale shape: packing is SHARDED (doc_id % 8; shard count scales
    with the cluster) so the running token count is a window per shard,
    never a global single-partition window; each shard packs
    independently, which is exactly how multi-worker training data is
    laid out (one packed stream per data-loader worker). Cost is two
    keyed shuffles of (shard,)-small rows: the window partition and the
    per-sequence rollup.""",
    oracle="""
WITH tok AS (
    SELECT doc_id,
           doc_id % 8 AS shard,
           CAST(length(regexp_extract_all(lower(text),
                '[a-z0-9]+|[^a-z0-9\\t\\n\\f\\r ]')) AS BIGINT) AS n_tok
    FROM documents
),
walked AS (
    SELECT doc_id, shard, n_tok,
           CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM tok WHERE n_tok > 0
),
slices AS (
    SELECT shard, doc_id, n_tok, cum, t.seq_id,
           LEAST(cum, (t.seq_id + 1) * 256)
             - GREATEST(cum - n_tok, t.seq_id * 256) AS toks_in_seq
    FROM walked,
         unnest(generate_series((cum - n_tok) // 256,
                                (cum - 1) // 256)) AS t(seq_id)
)
SELECT shard, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_slices,
       CAST(SUM(toks_in_seq) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN toks_in_seq < n_tok THEN 1 ELSE 0 END)
            AS BIGINT) AS n_split_docs,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM slices
GROUP BY shard, seq_id
ORDER BY shard, seq_id
""",
)
def t13_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    budget = 256
    tok = (
        spark.table("documents")
        .select(
            "doc_id",
            (F.col("doc_id") % 8).alias("shard"),
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\t\n\f\r ]"), 0
                )
            )
            .cast("bigint")
            .alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = tok.withColumn("cum", F.sum("n_tok").over(w))
    slices = walked.select(
        "shard",
        "doc_id",
        "n_tok",
        "cum",
        F.explode(
            F.sequence(
                F.expr(f"(cum - n_tok) div {budget}"),
                F.expr(f"(cum - 1) div {budget}"),
            )
        ).alias("seq_id"),
    ).withColumn(
        "toks_in_seq",
        F.least(F.col("cum"), (F.col("seq_id") + 1) * budget)
        - F.greatest(F.col("cum") - F.col("n_tok"), F.col("seq_id") * budget),
    )
    return (
        slices.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_slices"),
            F.sum("toks_in_seq").alias("n_tokens"),
            F.sum(
                F.when(F.col("toks_in_seq") < F.col("n_tok"), 1).otherwise(0)
            ).alias("n_split_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard", "seq_id")
    )


def _quality_scored_stats(
    spark: SparkSession, sf_dir: str, with_toks: bool = False
) -> DataFrame:
    """(doc_id, score[, toks]) for the threshold-selection queries —
    the same three counts as text_quality_score, through the SAME
    size-gated scorer (operators/text.with_regex_counts): the JVM
    branch's ASCII-\\b rewrite keeps n_stop oracle-agreed on
    accent-adjacent text, and past the gate the counts run on
    Arrow/RE2 instead of paying the backtracking-Java cost."""
    from ..operators.text import with_regex_counts
    from ..session import table_path
    from ..sources.parquet_io import parquet_bytes_on_disk

    src_bytes = parquet_bytes_on_disk(table_path(sf_dir, "documents"))
    counted = with_regex_counts(
        spark.table("documents").select("doc_id", "n_chars", "text"),
        [
            ("n_words", "[a-z0-9]+", True),
            ("n_stop", r"\b(the|a|of|and|to|in|is|for)\b", True),
            ("n_sym", "[^a-zA-Z0-9 ]", False),
        ],
        src_bytes=src_bytes,
        drop_cols=("text",),  # ship text into Arrow once, not back
    )
    score = F.round(
        F.col("n_stop").cast("double")
        / F.greatest(F.col("n_words"), F.lit(1))
        - F.col("n_sym").cast("double")
        / F.greatest(F.col("n_chars"), F.lit(1)),
        4,
    )
    cols = ["doc_id", score.alias("score")]
    if with_toks:
        cols.append(F.col("n_words").alias("toks"))
    return counted.select(*cols)


@query(
    "text_quality_quantile_filter",
    driver=False,
    doc="""Global-quantile quality filtering: drop the bottom ~20% of
    documents by a composite quality score, where the cutoff is a
    data-dependent corpus quantile, not a hand-tuned constant. The
    scalable two-pass shape: (1) quantize scores to 4 decimals and
    build a score histogram (one map-side-combined groupBy; bucket
    count is bounded by the quantization, not the corpus), (2) a
    cumulative-count window over the tiny histogram finds the smallest
    score whose cumulative count covers 20% of the corpus, (3) the
    scalar threshold broadcasts back into a stateless filter over the
    corpus scan. The only window runs over the histogram — never the
    100 TB corpus — and the integer guard 5*cum >= total sidesteps
    float quantile arithmetic entirely.""",
    oracle="""
WITH stats AS (
    SELECT doc_id,
           round(
               CAST(length(regexp_extract_all(lower(text),
                    '\\b(the|a|of|and|to|in|is|for)\\b')) AS DOUBLE)
               / greatest(CAST(length(regexp_extract_all(lower(text),
                    '[a-z0-9]+')) AS BIGINT), 1)
               - CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                      AS DOUBLE)
                 / greatest(n_chars, 1), 4) AS score
    FROM documents
),
hist AS (SELECT score, count(*) AS cnt FROM stats GROUP BY score),
cum AS (
    SELECT score, sum(cnt) OVER (ORDER BY score) AS cum FROM hist
),
tot AS (SELECT sum(cnt) AS total FROM hist),
thr AS (
    SELECT min(score) AS thr FROM cum, tot WHERE 5 * cum >= total
)
SELECT s.doc_id AS doc_id, s.score AS score, t.thr AS threshold
FROM stats s, thr t
WHERE s.score >= t.thr
ORDER BY doc_id
""",
)
def text_quality_quantile_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.filters import quantile_threshold

    stats = _quality_scored_stats(spark, sf_dir)
    thr = quantile_threshold(stats, "score", 1, 5)
    return (
        stats.crossJoin(F.broadcast(thr))
        .filter(F.col("score") >= F.col("thr"))
        .select("doc_id", "score", F.col("thr").alias("threshold"))
        .orderBy("doc_id")
    )


@query(
    "text_budget_selection",
    driver=False,
    doc="""Token-budget data selection: keep the highest-quality
    documents until ~60% of the corpus's total token mass is covered —
    the "best data under a budget" step of a pretraining build (the
    quantile filter's sibling: that one cuts a fixed fraction of DOCS,
    this one a fraction of TOKEN MASS, so long high-quality docs
    consume budget faster). Scale shape (operators/filters.py
    budget_threshold): weighted score histogram -> one cumulative
    window DESCENDING over the bounded histogram -> broadcast scalar
    threshold into a stateless corpus filter — no corpus-wide sort;
    the integer guard 5*cum >= 3*total keeps float quantile math out.
    Bucket-granular: the score bucket crossing the budget is kept
    whole (deterministic overshoot).""",
    oracle="""
WITH stats AS (
    SELECT doc_id,
           round(
               CAST(length(regexp_extract_all(lower(text),
                    '\\b(the|a|of|and|to|in|is|for)\\b')) AS DOUBLE)
               / greatest(CAST(length(regexp_extract_all(lower(text),
                    '[a-z0-9]+')) AS BIGINT), 1)
               - CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                      AS DOUBLE)
                 / greatest(n_chars, 1), 4) AS score,
           CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+'))
                AS BIGINT) AS toks
    FROM documents
),
hist AS (SELECT score, sum(toks) AS mass FROM stats GROUP BY score),
cum AS (
    SELECT score, sum(mass) OVER (ORDER BY score DESC) AS cum FROM hist
),
tot AS (SELECT sum(mass) AS total FROM hist),
thr AS (
    SELECT max(score) AS thr FROM cum, tot WHERE 5 * cum >= 3 * total
)
SELECT s.doc_id AS doc_id, s.score AS score, s.toks AS toks,
       t.thr AS threshold
FROM stats s, thr t
WHERE s.score >= t.thr
ORDER BY doc_id
""",
)
def text_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.filters import budget_threshold

    stats = _quality_scored_stats(spark, sf_dir, with_toks=True)
    thr = budget_threshold(stats, "score", "toks", 3, 5)
    return (
        stats.crossJoin(F.broadcast(thr))
        .filter(F.col("score") >= F.col("thr"))
        .select("doc_id", "score", "toks", F.col("thr").alias("threshold"))
        .orderBy("doc_id")
    )


@query(
    "text_perplexity_bigram",
    # Driver tier since late r4 (rotated in as the family's newest
    # capability).
    doc="""Statistical (perplexity-style) quality scoring — the CCNet
    filtering signal: train an add-one-smoothed bigram LM on the
    corpus itself and score each doc by average negative log-prob in
    nats (low = formulaic/boilerplate-like, high = out-of-distribution
    noise; curation keeps the middle band). Per-row integer micro-nat
    quantization before the sum keeps the aggregate exact across
    engines — see operators/text.bigram_nll_scores for the scale
    shape (linear bigram explosion, map-combined count tables,
    shuffle-hash scoring joins, broadcast scalar vocabulary).""",
    fixtures_used=("corpus",),
    oracle="""
WITH toks AS (
    SELECT doc_id,
           regexp_extract_all(
               regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'),
               '[a-z0-9]+') AS t
    FROM corpus
),
docs2 AS (SELECT * FROM toks WHERE len(t) >= 2),
bg AS (
    SELECT doc_id, t[i - 1] AS prev, t[i] AS cur
    FROM docs2,
         unnest(generate_series(2, CAST(len(t) AS INT))) AS s(i)
),
uni AS (
    SELECT w, count(*) AS c_prev
    FROM (SELECT unnest(t) AS w FROM docs2)
    GROUP BY w
),
vocab AS (SELECT count(*) AS v FROM uni),
bgc AS (
    SELECT prev, cur, count(*) AS c_bg FROM bg GROUP BY prev, cur
),
scored AS (
    SELECT b.doc_id,
           CAST(floor(ln((c.c_bg + 1.0) / (u.c_prev + vocab.v)) * 1e6
                      + 0.5) AS BIGINT) AS q
    FROM bg b
    JOIN bgc c USING (prev, cur)
    JOIN uni u ON b.prev = u.w
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(-sum(q) AS DOUBLE) / (count(*) * 1e6), 4) AS avg_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bigram_nll_scores

    return bigram_nll_scores(spark.table("corpus"))


def _bpe_step_sql(n: int) -> str:
    """One unrolled BPE iteration over s{n-1} -> s{n} (see
    operators/bpe.py for the Spark-side fold these CTEs mirror).

    The non-overlapping left-to-right merge is reconstructed with
    gaps-and-islands: candidate positions (where the chosen pair
    occurs) can only be CONSECUTIVE when left == right (a same-symbol
    run), and there the fold merges the 1st, 3rd, ... of the run —
    i.e. odd ranks within each island of consecutive candidates."""
    p = n - 1
    return f"""
p{n} AS MATERIALIZED (
    SELECT syms[t.i] AS l, syms[t.i + 1] AS r, CAST(sum(wc) AS BIGINT) AS c
    FROM s{p}, unnest(generate_series(1, len(syms) - 1)) AS t(i)
    GROUP BY 1, 2
),
m{n} AS MATERIALIZED (SELECT l, r, c FROM p{n} ORDER BY c DESC, l, r LIMIT 1),
cand{n} AS MATERIALIZED (
    SELECT word, t.i AS i
    FROM s{p}, unnest(generate_series(1, len(syms) - 1)) AS t(i)
    WHERE syms[t.i] = (SELECT l FROM m{n})
      AND syms[t.i + 1] = (SELECT r FROM m{n})
),
runs{n} AS MATERIALIZED (
    SELECT word, i,
           i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
    FROM cand{n}
),
mp{n} AS MATERIALIZED (
    SELECT word, i FROM (
        SELECT word, i,
               row_number() OVER (PARTITION BY word, g ORDER BY i) AS k
        FROM runs{n}) WHERE k % 2 = 1
),
s{n} AS MATERIALIZED (
    SELECT s.word AS word, s.wc AS wc,
           list(CASE WHEN mp.i IS NOT NULL
                THEN (SELECT l || r FROM m{n})
                ELSE s.syms[t.i] END ORDER BY t.i) AS syms
    FROM s{p} s
    CROSS JOIN unnest(generate_series(1, len(s.syms))) AS t(i)
    LEFT JOIN mp{n} mp ON mp.word = s.word AND mp.i = t.i
    LEFT JOIN mp{n} mq ON mq.word = s.word AND mq.i = t.i - 1
    WHERE mq.i IS NULL
    GROUP BY s.word, s.wc
),
v{n} AS MATERIALIZED (
    SELECT CAST(count(DISTINCT u.s) AS BIGINT) AS n_symbols
    FROM s{n}, unnest(syms) AS u(s)
)"""


# The 3-step unrolled training CTEs (ending at s3: per-word symbol
# sequences under all three merges) — shared by the merge-table query
# and the encode query below.
#
# Every CTE is AS MATERIALIZED on purpose. DuckDB 1.0 inlines a CTE at
# each place it is referenced; each step reads s{n-1} several times and
# the 1-row m{n} through many scalar `(SELECT l FROM m{n})` lookups, so
# inlining re-expands the whole chain below at every reference and the
# plan grows geometrically with the step count (at sf0.001 it runs out
# of DuckDB's 12.5 GiB default memory limit; spilling to a temp
# directory does not help). Materialized, each CTE is evaluated once.
_BPE_CTES = (
    """
WITH words AS MATERIALIZED (
    SELECT t.tok AS word, CAST(count(*) AS BIGINT) AS wc
    FROM documents,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tok)
    GROUP BY 1
),
s0 AS MATERIALIZED (
    SELECT word, wc,
           list_transform(generate_series(1, length(word)),
                          i -> substr(word, i, 1)) AS syms
    FROM words
),"""
    + ",".join(_bpe_step_sql(n) for n in (1, 2, 3))
)

_BPE_ORACLE = (
    _BPE_CTES
    + """
SELECT * FROM (
    SELECT CAST(1 AS INT) AS step, (SELECT l FROM m1) AS lhs,
           (SELECT r FROM m1) AS rhs, (SELECT c FROM m1) AS pair_count,
           (SELECT n_symbols FROM v1) AS n_symbols
    UNION ALL
    SELECT CAST(2 AS INT), (SELECT l FROM m2), (SELECT r FROM m2),
           (SELECT c FROM m2), (SELECT n_symbols FROM v2)
    UNION ALL
    SELECT CAST(3 AS INT), (SELECT l FROM m3), (SELECT r FROM m3),
           (SELECT c FROM m3), (SELECT n_symbols FROM v3)
) ORDER BY step
"""
)


@query(
    "text_bpe_merges",
    # Driver tier since the r8 rotation (mm_decode_features to local).
    doc="""Distributed BPE tokenizer training (Sennrich 2016,
    arXiv:1508.07909), 3 merge steps over the documents corpus — the
    vocabulary-construction stage of an LLM data pipeline. After the
    single corpus-sized word-count shuffle, every iteration runs on
    the frequency-weighted WORD VOCABULARY: one vocab-sized pair
    count, a 1-row argmax collect (the model), and a stateless JVM
    fold applying the merge left-to-right non-overlapping
    (operators/bpe.py — no UDFs anywhere). The oracle unrolls all 3
    iterations in SQL, reconstructing the non-overlapping scan via
    gaps-and-islands over candidate positions — a THIRD iterative
    algorithm family (after Lloyd and the transitive closure) checked
    value-for-value. Output per step: the merged pair, its
    corpus-weighted frequency at selection time, and the vocabulary's
    distinct-symbol count after the merge.""",
    oracle=_BPE_ORACLE,
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train

    return bpe_train(spark.table("documents"), merges=3)


@query(
    "text_bpe_encode",
    driver=False,
    doc="""The apply half of the tokenizer lifecycle: train 3 BPE
    merges (`text_bpe_merges`), FREEZE the merge table as driver-held
    literals, and encode the corpus under it — per-document word
    count, BPE token count, and chars-per-token compression. The merge
    chain runs once per DISTINCT word (vocabulary-sized work), then
    the corpus word stream joins the tiny (word, n_syms) vocabulary —
    broadcast here, AQE-skew-splittable shuffle at worst. The oracle
    re-derives the same three merges via the shared unrolled CTEs and
    re-encodes every document from s3's per-word symbol sequences:
    train -> freeze -> apply, value-parity end to end (the same
    lifecycle contract as `dedup_semantic_incremental`'s
    fit -> freeze -> classify).""",
    oracle=_BPE_CTES
    + """,
dtok AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
    FROM documents
),
dw AS (
    SELECT doc_id, u.w AS word FROM dtok, unnest(ws) AS u(w)
),
agg AS (
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(s3.syms)) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(length(dw.word)) AS BIGINT) AS n_chars
    FROM dw JOIN s3 ON s3.word = dw.word
    GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(a.n_words, 0) AS n_words,
       COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       round(a.n_chars / CAST(a.n_bpe_tokens AS DOUBLE), 4)
           AS chars_per_token
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
""",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_stats, bpe_train

    docs = spark.table("documents")
    merges = [
        (r["lhs"], r["rhs"]) for r in bpe_train(docs, merges=3).collect()
    ]
    return bpe_encode_stats(docs, merges)
