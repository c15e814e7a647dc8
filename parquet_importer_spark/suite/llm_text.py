"""§2.J — text analysis: stats, token counting, lang-ID, quality,
fingerprinting, TF-IDF. All pure-builtin expressions over `documents`
(see functions/text.py for the shared builders and the portability rules
— md5-only hashing, rounded libm, no murmur3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_importer_spark.functions.text import (
    LANG_LEXICON,
    STOPWORDS,
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    oracle_quality_select,
    quality_score,
    token_count,
    tokens,
)
from parquet_importer_spark.io import parallelize, read_table
from parquet_importer_spark.operators.dedup import in_bucket_pairs
from parquet_importer_spark.registry import (
    exact_avg,
    oracle_exact_avg,
    query,
)

_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


@query(
    "llm_text_stats",
    oracle=f"""
    WITH d AS (
      SELECT lang, source,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           {oracle_exact_avg('CAST(n_tok AS DOUBLE)')} AS avg_tokens,
           {oracle_exact_avg('CAST(n_chars AS DOUBLE)')} AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM d GROUP BY lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, token/char averages,
    source diversity — the first pass any training-data pipeline runs."""
    d = parallelize(read_table(spark, sf_dir, "documents")).select(
        "lang",
        "source",
        token_count(F.col("text")).alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        exact_avg(F.col("n_tok").cast("double")).alias("avg_tokens"),
        exact_avg(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "llm_token_count",
    oracle=rf"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
                AS BIGINT) AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish (GPT-2-pre-tokenizer-shaped regex) counts."""
    return parallelize(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


def _oracle_hits(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"''{w}''" for w in words).replace("''", "'")
    return f"CAST(len(list_filter({_TOKS}, t -> t IN ({inlist}))) AS BIGINT)"


_LANG_CASE = " ".join(
    f"WHEN hits_{lang} = best THEN '{lang}'" for lang in LANG_LEXICON
)


@query(
    "llm_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{_oracle_hits(words)} AS hits_{lang}"
                        for lang, words in LANG_LEXICON.items())}
      FROM documents
    ),
    best AS (
      SELECT *, GREATEST({", ".join(f"hits_{lang}" for lang in LANG_LEXICON)}) AS best
      FROM scored
    )
    SELECT doc_id, lang,
           CASE WHEN best = 0 THEN 'und' {_LANG_CASE} ELSE 'und' END AS lang_pred,
           best AS best_hits
    FROM best
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID (n-gram heuristic): argmax of per-lang
    stopword hits, fixed tie-break order, 'und' when no signal."""
    from parquet_importer_spark.functions.text import lexicon_hits

    d = parallelize(read_table(spark, sf_dir, "documents"))
    hits = {
        lang: lexicon_hits(F.col("text"), words)
        for lang, words in LANG_LEXICON.items()
    }
    best = F.greatest(*hits.values())
    return d.select(
        "doc_id",
        "lang",
        lang_id(F.col("text")).alias("lang_pred"),
        best.alias("best_hits"),
    )


@query(
    "llm_quality",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(list_filter({_TOKS},
                  t -> t IN ({", ".join("'" + w + "'" for w in STOPWORDS)})))
                  AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  AS DOUBLE) AS n_alpha
      FROM documents
    )
    SELECT doc_id,
           ROUND(0.4 * LEAST(n_tok / 20.0, 1.0)
               + 0.2 * LEAST((n_stop / n_tok) * 5.0, 1.0)
               + 0.2 * (CASE WHEN (n_chars - (n_tok - 1)) / n_tok >= 2.0
                              AND (n_chars - (n_tok - 1)) / n_tok <= 12.0
                         THEN 1.0 ELSE 0.5 END)
               + 0.2 * (n_alpha / n_chars), 6) AS quality
    FROM q
    """,
)
def llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score ∈ [0,1] blending length adequacy,
    stopword ratio, mean token length sanity, alpha ratio."""
    return parallelize(read_table(spark, sf_dir, "documents")).select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )


@query(
    "llm_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM t
    )
    SELECT doc_id,
           list_min(list_transform(grams, g -> md5(g))) AS fingerprint
    FROM sh
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint: lexicographic min of
    md5 over 3-gram shingles — near-identical docs collide."""
    return parallelize(read_table(spark, sf_dir, "documents")).select(
        "doc_id", doc_fingerprint(F.col("text"), 3).alias("fingerprint")
    )


@query(
    "llm_tfidf",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 8)
             AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id ASC, term ASC
    LIMIT 50
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF as pure DataFrame ops (explode → two aggregations → join);
    smoothed idf = ln((N+1)/(df+1)) + 1. The docs-side aggregation is
    map-combinable; the term-df table is tiny → broadcast back."""
    d = read_table(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar, footer-served; folded into the plan as a literal
    ex = parallelize(d).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df(term) = #distinct docs containing it = tf's row count per term —
    # deriving it FROM tf (not a second explode over ex) lets Catalyst
    # reuse the (doc_id, term) exchange for both branches of the join
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * idf, 8).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), F.col("doc_id").asc(), F.col("term").asc())
        .limit(50)
    )


@query(
    "llm_ngram_freq",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
      WHERE len({_TOKS}) >= 3
    ),
    g AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS ng
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - 2)) AS i
      )
    )
    SELECT ng, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS n_docs
    FROM g GROUP BY ng
    ORDER BY freq DESC, ng ASC
    LIMIT 50
    """,
)
def llm_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency table (top-50 trigrams with doc
    frequency) — the corpus-statistics pass behind contamination
    screens, boilerplate detection, and tokenizer design. Trigrams are
    built per-doc inside array expressions (no token explode), then
    exploded once already k-grammed; the count is one partial+final
    aggregation and the top-50 is TakeOrderedAndProject, never a full
    sort. At 100 TB the groupBy key space is bounded by distinct
    n-grams, and a two-level count (partial per partition) makes the
    hot boilerplate keys skew-safe."""
    from parquet_importer_spark.functions.text import shingles_all

    d = parallelize(read_table(spark, sf_dir, "documents")).filter(
        F.size(tokens(F.col("text"))) >= 3
    )
    return (
        d.select(F.explode(shingles_all(F.col("text"), 3)).alias("ng"),
                 F.col("doc_id"))
        .groupBy("ng")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
        )
        .orderBy(F.col("freq").desc(), F.col("ng").asc())
        .limit(50)
    )


from parquet_importer_spark.functions.text import oracle_quality_select

_QUALITY_SQL = oracle_quality_select("source")


@query(
    "llm_quality_filter_pct",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    r AS (
      SELECT doc_id, source, quality,
             ROUND(PERCENT_RANK() OVER
                   (PARTITION BY source ORDER BY quality DESC), 6) AS pct
      FROM q
    )
    SELECT doc_id, source, quality, pct
    FROM r WHERE pct <= 0.5
    """,
)
def llm_quality_filter_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-threshold quality filtering: keep each source's top
    half by heuristic quality score — the relative (per-source) variant
    of absolute-threshold Gopher filtering, robust to sources with
    different score distributions. The window partitions by source, so
    the one shuffle is on the source key; PERCENT_RANK is rank-based,
    making tied scores land identically in any engine. At extreme
    source skew the same semantics decompose into a two-pass
    approx-quantile threshold + broadcast join (SURVEY §8)."""
    from parquet_importer_spark.functions.text import quality_score
    from pyspark.sql import Window

    q = parallelize(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(F.col("quality").desc())
    return (
        q.withColumn("pct", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("pct") <= 0.5)
        .select("doc_id", "source", "quality", "pct")
    )


@query(
    "llm_index_inverted",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
    )
    SELECT doc_id FROM t, unnest(toks) AS u(tok)
    WHERE tok = 'spark'
    ORDER BY doc_id
    """,
)
def llm_index_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index + pruned term lookup: postings
    (token, doc_id) land in a parquet layout partitioned by a 16-way
    md5 bucket of the token; a term query computes its bucket
    DRIVER-SIDE and reads only that partition directory — at 100 TB a
    single-term lookup touches 1/16th of the index (or less with a
    longer prefix), and the token filter prunes row groups within it.
    The build is one explode + one partitioned write; queries amortize
    it forever after."""
    import os
    import tempfile

    from parquet_importer_spark.functions.text import md5_bucket, seeded_md5

    out = os.path.join(tempfile.mkdtemp(prefix="pis_invidx_"), "postings")
    d = parallelize(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    # repartition ON the partition column before partitionBy: without
    # it every one of the N input partitions fans out a file into every
    # bucket directory (N×16 small files; guide §6 output sizing) —
    # hash-clustering first writes one file per bucket (at warehouse
    # scale: repartition(n_files_per_bucket × 16, "bucket"))
    d.withColumn("bucket", md5_bucket(F.col("tok"), 11, 1)).repartition(
        "bucket"
    ).write.partitionBy("bucket").mode("overwrite").parquet(out)

    term = "spark"
    # driver-side bucket computation — the read lists ONE directory
    import hashlib

    tb = hashlib.md5(f"s11|{term}".encode()).hexdigest()[:1]
    back = spark.read.parquet(out).filter(
        (F.col("bucket") == tb) & (F.col("tok") == term)
    )
    return back.select("doc_id").orderBy("doc_id")


@query(
    "llm_pipeline_e2e",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    hashed AS (
      SELECT d.doc_id, d.lang, d.source, q.quality,
             sha256(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g')) AS h,
             CAST(len({_TOKS.replace('text', 'd.text')}) AS BIGINT) AS n_tok
      FROM documents d JOIN q ON d.doc_id = q.doc_id
      WHERE q.quality >= 0.5
    ),
    canonical AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM hashed
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM canonical
    GROUP BY lang
    """,
)
def llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-preparation pipeline as ONE composed plan:
    quality gate (absolute threshold) → exact dedup keeping the
    min-doc_id canonical per content hash → per-language token budget
    summary. The point is composition: the quality score and content
    hash are codegen projections in the same stage as the scan, the
    dedup window and the final aggregate are the only shuffles, and
    nothing materializes between stages — at 100 TB this runs as a
    single three-stage job, not three pipelines with intermediate
    writes."""
    from pyspark.sql import Window

    from parquet_importer_spark.functions.text import quality_score, token_count
    from parquet_importer_spark.operators.dedup import normalized_text_hash

    d = (
        parallelize(read_table(spark, sf_dir, "documents"))
        .withColumn("quality", quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.5)
        .select(
            "doc_id",
            "lang",
            "source",
            normalized_text_hash(F.col("text")).alias("h"),
            token_count(F.col("text")).alias("n_tok"),
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    canonical = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return canonical.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.count_distinct("source").alias("n_sources"),
    )


@query(
    "llm_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT unnest({_TOKS}) AS w FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> w[i:i+1])) AS pair
      FROM w WHERE len(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair ASC
    LIMIT 50
    """,
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner step of BPE tokenizer TRAINING: count adjacent
    character pairs across the corpus (each round of BPE merges the
    most frequent pair; this is that candidate table, top-50). Word
    boundaries reset pairing — pairs never span tokens, matching the
    standard pre-tokenized BPE setup.

    Scale shape: pair extraction happens inside array expressions per
    word (sequence → substring transform, pure codegen), then ONE
    map-combinable count aggregation — each executor reduces its split
    to ≤|alphabet|² partial counts before the shuffle, so counting
    pairs over 100 TB costs one slim exchange, and per-round re-counts
    (after a merge) reuse the identical plan. TakeOrderedAndProject
    caps the result without a global sort."""
    d = read_table(spark, sf_dir, "documents")
    w = d.select(F.explode(tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = w.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair").asc())
        .limit(50)
    )


@query(
    "llm_corpus_stats",
    oracle=f"""
    WITH t AS (
      SELECT source, lang, n_chars,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(CAST(SUM(CAST(n_tok AS DECIMAL(30,8))) AS DOUBLE), 4)
             / COUNT(*) AS avg_tokens
    FROM t GROUP BY source, lang
    """,
)
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card table: per (source, language) doc counts, token
    totals, char-length ranges, and mean tokens — the summary every
    training-data release publishes and every mixing decision reads.
    One map-combinable aggregation over the corpus; the float mean goes
    through the decimal-exact sum so the card is bit-reproducible."""
    d = read_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    return (
        d.select("source", "lang", "n_chars", n_tok.alias("n_tok"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            (
                F.round(
                    F.sum(F.col("n_tok").cast("decimal(30,8)")).cast("double"),
                    4,
                )
                / F.count(F.lit(1))
            ).alias("avg_tokens"),
        )
    )


@query(
    "llm_html_strip",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             '<html><body><h1 class="t">' || source || '</h1><p>'
               || text || '</p><br/><a href="/x?a=1&amp;b=2">'
               || lang || '</a> &lt;fin&gt;&nbsp;&quot;ok&quot;</body></html>'
               AS html
      FROM documents
    ),
    stripped AS (
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(
                 regexp_replace(html, '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'),
                 '&gt;', '>'), '&quot;', '"'),
               '\\s+', ' ', 'g')) AS clean
      FROM raw
    )
    SELECT doc_id, clean,
           CAST(length(clean) AS BIGINT) AS n_chars_clean
    FROM stripped
    """,
)
def llm_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first transform of every crawl
    pipeline: drop tags, decode the common entities (&amp; &lt; &gt;
    &nbsp; &quot;), collapse whitespace. The markup is synthesized
    deterministically around each document (headline, paragraph,
    attributed link, entity samples) so both engines strip identical
    inputs and the cleaned text is verifiable.

    Tag removal inserts a space (never plain deletion: '</p><p>' glues
    two paragraphs into one token otherwise), entity decode runs AFTER
    tag removal so '&lt;fin&gt;' survives as text rather than being
    eaten as a tag. Pure codegen regexp/replace chain — zero shuffle,
    scales as a map."""
    d = read_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body><h1 class="t">'),
        F.col("source"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit('</p><br/><a href="/x?a=1&amp;b=2">'),
        F.col("lang"),
        F.lit("</a> &lt;fin&gt;&nbsp;&quot;ok&quot;</body></html>"),
    )
    clean = F.regexp_replace(html, "<[^>]*>", " ")
    for ent, ch in (
        ("&nbsp;", " "),
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
    ):
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return d.select(
        "doc_id",
        clean.alias("clean"),
        F.length(clean).cast("bigint").alias("n_chars_clean"),
    )


#: shared BPE-training CTE chain (DuckDB side): word-frequency table →
#: space-delimited symbol strings → 3 greedy merge rounds, each
#: selecting the max-weighted-frequency adjacent symbol pair (ties by
#: pair text asc) and applying it with non-overlapping left-to-right
#: replace — the exact loop the Spark operator runs. Ends with stages
#: p1/p2/p3 (the merge table) and s3 (the merged vocabulary).
_BPE_CTES = f"""
    WITH w AS (
      SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents) GROUP BY 1
    ),
    s0 AS (
      SELECT word, freq,
             ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
      FROM w
    ),
    p1 AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS wfreq FROM (
        SELECT freq, unnest(list_transform(range(1, len(syms)),
          i -> syms[i] || ' ' || syms[i+1])) AS pair
        FROM (SELECT freq, string_split(trim(s), ' ') AS syms FROM s0)
      ) GROUP BY pair ORDER BY wfreq DESC, pair ASC LIMIT 1
    ),
    s1 AS (
      SELECT word, freq,
             replace(s, ' ' || p.pair || ' ',
                     ' ' || replace(p.pair, ' ', '') || ' ') AS s
      FROM s0 CROSS JOIN p1 p
    ),
    p2 AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS wfreq FROM (
        SELECT freq, unnest(list_transform(range(1, len(syms)),
          i -> syms[i] || ' ' || syms[i+1])) AS pair
        FROM (SELECT freq, string_split(trim(s), ' ') AS syms FROM s1)
      ) GROUP BY pair ORDER BY wfreq DESC, pair ASC LIMIT 1
    ),
    s2 AS (
      SELECT word, freq,
             replace(s, ' ' || p.pair || ' ',
                     ' ' || replace(p.pair, ' ', '') || ' ') AS s
      FROM s1 CROSS JOIN p2 p
    ),
    p3 AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS wfreq FROM (
        SELECT freq, unnest(list_transform(range(1, len(syms)),
          i -> syms[i] || ' ' || syms[i+1])) AS pair
        FROM (SELECT freq, string_split(trim(s), ' ') AS syms FROM s2)
      ) GROUP BY pair ORDER BY wfreq DESC, pair ASC LIMIT 1
    ),
    s3 AS (
      SELECT word, freq,
             replace(s, ' ' || p.pair || ' ',
                     ' ' || replace(p.pair, ' ', '') || ' ') AS s
      FROM s2 CROSS JOIN p3 p
    )
"""


def _bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = 3):
    """Run the BPE merge loop; returns (merge_list, merged_vocab_df).

    merge_list = [(round, pair, wfreq)]; the vocab frame carries
    (word, freq, s) with s the space-delimited symbol string after all
    merges. One vocab-sized aggregation + one driver-side 1-row collect
    per round (the merge TABLE is the model — driver-sized by design,
    like the d-sized PCA reduce)."""
    d = read_table(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    cur = w.withColumn(
        "s",
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("word"), "(.)", "$1 ")
        ),
    )
    # the vocab frame is tiny (distinct words); checkpoint it per round
    # so round r's aggregation doesn't recompute rounds 1..r−1's merges
    # AND the corpus word count from scratch (same lineage-truncation
    # discipline as the connected-components loop)
    cur = cur.localCheckpoint(eager=False)
    merges = []
    for rnd in range(1, n_merges + 1):
        # single-symbol words yield no pairs; filter them BEFORE the
        # transform (Spark's sequence(1, 0) counts DOWN, and
        # element_at(syms, 0) then errors rather than returning null)
        syms = cur.withColumn(
            "syms", F.split(F.trim(F.col("s")), " ")
        ).filter(F.size("syms") >= 2)
        pairs = syms.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> concat(element_at(syms, i), ' ', "
                    "element_at(syms, i + 1)))"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("wfreq"))
            .orderBy(F.col("wfreq").desc(), F.col("pair").asc())
            .limit(1)
            .collect()[0]
        )
        merges.append((rnd, top.pair, top.wfreq))
        merged = top.pair.replace(" ", "")
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f" {top.pair} "),
                F.lit(f" {merged} "),
            ),
        ).localCheckpoint(eager=False)
    return merges, cur


@query(
    "llm_bpe_merge",
    oracle=_BPE_CTES
    + """
    SELECT 1 AS round, pair, wfreq FROM p1
    UNION ALL SELECT 2, pair, wfreq FROM p2
    UNION ALL SELECT 3, pair, wfreq FROM p3
    """,
)
def llm_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE tokenizer-TRAINING loop (3 merge rounds), built on
    llm_bpe_pair_counts' counting step: corpus → word-frequency table →
    per-round argmax of weighted adjacent-symbol-pair counts → apply
    the merge → recount. Output is the learned merge table
    (round, pair, weighted_freq) — BPE's entire model.

    Determinism/portability: merging uses literal non-overlapping
    left-to-right string replace on space-delimited symbol strings —
    identical semantics in Spark and DuckDB (a run like 'a a a a'
    merges alternate pairs per round, the documented greedy-rescan
    nuance); pair selection ties break on pair text.

    Scale shape: the loop runs over the VOCABULARY (word, freq) table,
    never the corpus — the standard BPE-trainer optimization: one
    corpus-wide word count feeds n_merges vocab-sized aggregations,
    each a partial-agg shuffle of symbol pairs; only the 1-row argmax
    reaches the driver per round (the merge table IS the model)."""
    merges, _ = _bpe_train(spark, sf_dir, n_merges=3)
    return spark.createDataFrame(merges, "round int, pair string, wfreq bigint")


@query(
    "llm_bpe_tokenize",
    oracle=_BPE_CTES
    + f"""
    , vs AS (
      SELECT word, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym,
             CAST(length(word) AS BIGINT) AS n_chr
      FROM s3
    ),
    docs AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
    SELECT doc_id,
           CAST(SUM(n_chr) AS BIGINT) AS n_char_syms,
           CAST(SUM(n_sym) AS BIGINT) AS n_bpe_syms,
           ROUND(CAST(SUM(n_chr) AS DOUBLE) / SUM(n_sym), 6) AS compression
    FROM docs JOIN vs USING (word) GROUP BY doc_id
    """,
)
def llm_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE merges (llm_bpe_merge's 3-round model) to
    the corpus: every document's words segment into the post-merge
    symbols, reported as per-doc symbol counts before (characters) and
    after (BPE symbols) with the compression ratio — the metric that
    drives tokenizer-vocabulary sizing decisions.

    Scale shape: tokenization applies to the VOCABULARY once (the
    merged symbol strings already exist in the training frame), then a
    single word-level hash join maps every document through it —
    exactly how production tokenizers amortize: segment distinct words,
    join, never re-merge per occurrence. The corpus-side cost is one
    explode + join + per-doc rollup."""
    _, vocab = _bpe_train(spark, sf_dir, n_merges=3)
    vs = vocab.select(
        "word",
        F.size(F.split(F.trim(F.col("s")), " ")).cast("bigint").alias("n_sym"),
        F.length("word").cast("bigint").alias("n_chr"),
    )
    d = read_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    return (
        docs.join(vs, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_chr").cast("bigint").alias("n_char_syms"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_syms"),
            F.round(
                F.sum("n_chr").cast("double") / F.sum("n_sym"), 6
            ).alias("compression"),
        )
    )


@query(
    "llm_quality_calibrated",
    oracle=f"""
    WITH q AS ({oracle_quality_select('source')})
    SELECT doc_id, source, quality,
           ROUND(PERCENT_RANK() OVER (
             PARTITION BY source ORDER BY quality, doc_id), 6)
             AS calibrated
    FROM q
    """,
)
def llm_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality calibration: raw heuristic quality scores are
    not comparable ACROSS sources (a mid-tier web page outscores a
    top-tier forum post on raw heuristics), so each document's score is
    quantile-normalized WITHIN its source via percent_rank — a global
    'keep the top X%' threshold then takes the same fraction from every
    domain instead of silently draining the low-scoring ones.

    percent_rank = (rank−1)/(n_partition−1) is exact integer arithmetic
    + one IEEE division, tie-broken by doc_id — bit-identical across
    engines with no float contract needed.

    Scale shape: one shuffle on source; the rank window shares that
    partitioning. A skewed mega-source splits into md5 salt buckets
    whose per-bucket ranks merge with a second pass (same decomposition
    as the percentile quality filter, SURVEY §8)."""
    from pyspark.sql import Window

    d = parallelize(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return d.select(
        "doc_id",
        "source",
        "quality",
        F.round(F.percent_rank().over(w), 6).alias("calibrated"),
    )


@query(
    "llm_char_entropy",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', '', 'g') AS s
      FROM documents
    ),
    c AS (
      SELECT doc_id, len(s) AS n, ch.ch AS ch,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM s, LATERAL (
        SELECT unnest(list_transform(range(1, len(s) + 1),
                                     i -> s[i:i])) AS ch
      ) ch
      WHERE len(s) >= 1
      GROUP BY 1, 2, 3
    ),
    term AS (
      SELECT doc_id, n, ch,
             ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE) / n), 8)
               AS t
      FROM c
    )
    SELECT doc_id,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_chars_nospace,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           ROUND(-(CAST(SUM(CAST(t AS DECIMAL(30,8))) AS DOUBLE))
                 / ANY_VALUE(n), 6) AS entropy
    FROM term GROUP BY doc_id
    """,
)
def llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/compression-artifact detector: natural language sits in
    a narrow entropy band (~4.1 bits for English letters), while
    base64 blobs, mode-collapsed repetition, and binary spill fall
    far outside it, so the score feeds the same percentile gates as
    the other quality signals. Whitespace is stripped first (layout
    doesn't carry content entropy). Reported in nats.

    Float contract: character counts are exact; each character class
    contributes ROUND(c * ln(c/n), 8) — one IEEE expression tree —
    and contributions accumulate in DECIMAL(30,8), so DuckDB
    hash-matches exactly.

    Scale shape: ZERO shuffle — the whole histogram lives inside array
    expressions per document. History: the original formulation
    exploded one ROW PER CHARACTER and shuffled the whole corpus's
    characters into a (doc, char) groupBy (5.5 s at sf0.1); round 8
    replaced it with a per-distinct-char filter pass — but that is
    O(len × |alphabet|) per doc, and the round-9 de-noised sweep
    caught it super-linear (xlin 1.63: the sf1 replica's ``_r{N}``
    token tags GROW the alphabet on top of 15× the characters —
    exactly the large-alphabet degradation the round-8 ADVICE
    predicted). Now: sort the char array once (O(n log n), JVM
    intrinsic), join it back to a string, and split it into maximal
    equal-char runs with ONE regex scan (``(?s)(.)\\1*`` via
    regexp_extract_all — run lengths of a sorted string ARE the
    per-char counts; DOTALL because Java ``\\s`` is ASCII-only, so
    U+0085/U+2028/U+2029 survive the whitespace strip and a bare
    ``.`` would silently drop their runs while the oracle's
    per-character enumeration counts them — round-9 ADVICE, fixed
    round 10). All per-character work is compiled JVM code; the
    only interpreted higher-order fold runs over the ≤|alphabet| run
    strings (an interpreted lambda fold over raw CHARACTERS measured
    8.5 s at sf0.1 — µs-scale state allocation per element; keep folds
    on reduced arrays). Alphabet-independent. Every count still
    contributes the identical ROUND(c · ln(c/n), 8) IEEE tree
    accumulated in DECIMAL(30,8) (exact ⇒ order-free), so the SQL
    oracle is unchanged through all three formulations. At 100 TB
    a pure projection rides whatever partitioning the pipeline already
    has. The DECIMAL(30,8) term accumulation is exact, hence
    order-independent, so the fold-order change cannot move the hash
    and the SQL oracle is unchanged."""
    d = read_table(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", "")
    # maximal equal-char runs of the sorted character string. (?s)
    # (DOTALL) is load-bearing: Java \s is ASCII-only, so the Unicode
    # line separators U+0085/U+2028/U+2029 SURVIVE the \s+ strip, and
    # a bare '.' excludes exactly those five terminator code points —
    # their runs would vanish from counts/n_distinct_chars/entropy
    # while the oracle's per-character enumeration still counts them
    # (round-9 ADVICE; round 10 made every character matchable)
    runs = F.expr(
        r"regexp_extract_all(array_join(array_sort(split(s, '')), ''),"
        r" '(?s)(.)\\1*', 0)"
    )
    base = (
        d.select("doc_id", s.alias("s"))
        .filter(F.length("s") >= 1)
        .select(
            "doc_id",
            F.length("s").cast("bigint").alias("n"),
            F.transform(runs, lambda r: F.length(r).cast("bigint")).alias(
                "counts"
            ),
        )
    )
    term = lambda c: F.round(  # noqa: E731 — shared IEEE tree, both engines
        c.cast("double") * F.log(c.cast("double") / F.col("n")), 8
    ).cast("decimal(30,8)")
    tsum = F.aggregate(
        F.col("counts"),
        F.lit(0).cast("decimal(30,8)"),
        # decimal + widens to (31,8); cast back — lossless at these
        # magnitudes (|term| < len * ln(len)) and required by aggregate's
        # fixed accumulator type
        lambda acc, c: (acc + term(c)).cast("decimal(30,8)"),
    )
    return base.select(
        "doc_id",
        F.col("n").alias("n_chars_nospace"),
        F.size("counts").cast("bigint").alias("n_distinct_chars"),
        F.round(-tsum.cast("double") / F.col("n"), 6).alias("entropy"),
    )


@query(
    "llm_tokenizer_fertility",
    oracle=rf"""
    WITH t AS (
      SELECT lang,
             CAST(len({_TOKS}) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
                  AS BIGINT) AS bpe,
             CAST(length(text) AS BIGINT) AS ch
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(ch) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 6) AS fertility,
           ROUND(CAST(SUM(ch) AS DOUBLE) / SUM(bpe), 6) AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subword tokens emitted per
    whitespace word, plus chars per subword token: the standard
    cross-lingual tokenizer-efficiency report (high-fertility languages
    pay more sequence length per sentence, skewing both cost and
    mixing weights). Uses the BPE-ish pre-tokenizer count as the
    subword proxy (functions/text.bpe_ish_token_count; a trained
    vocab from llm_bpe_merge would slot in identically).

    All sums are exact BIGINT; each ratio is ONE IEEE division of
    identical integers on both engines — the agg_groupby float
    contract. One partial-aggregatable groupBy on lang; the per-doc
    counts ride the scan (no pre-shuffle materialization)."""
    d = parallelize(read_table(spark, sf_dir, "documents"))
    t = d.select(
        "lang",
        token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
        F.length("text").cast("bigint").alias("ch"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ws").alias("total_ws_tokens"),
        F.sum("bpe").alias("total_bpe_tokens"),
        F.sum("ch").alias("total_chars"),
        F.round(F.sum("bpe").cast("double") / F.sum("ws"), 6).alias(
            "fertility"
        ),
        F.round(F.sum("ch").cast("double") / F.sum("bpe"), 6).alias(
            "chars_per_token"
        ),
    )


_SH3N = (
    "list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) "
    "ELSE [array_to_string(toks, ' ')] END)"
)


@query(
    "llm_ngram_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SH3N} AS grams FROM t),
    x AS (SELECT doc_id, md5(unnest(grams)) AS g FROM sh),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM x GROUP BY g),
    nov AS (
      SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
      FROM x JOIN firsts USING (g)
      WHERE firsts.first_doc = x.doc_id
      GROUP BY x.doc_id
    )
    SELECT sh.doc_id, CAST(len(sh.grams) AS BIGINT) AS n_grams,
           COALESCE(nov.n_novel, 0) AS n_novel,
           ROUND(CAST(COALESCE(nov.n_novel, 0) AS DOUBLE)
                 / len(sh.grams), 6) AS novelty
    FROM sh LEFT JOIN nov ON nov.doc_id = sh.doc_id
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the fraction of a doc's distinct
    3-grams whose corpus-wide FIRST occurrence (min doc_id, i.e. the
    arrival order of an append-only crawl) is this document. Low
    novelty = mostly recycled phrasing (boilerplate, templates,
    near-dups that slipped the pairwise passes); data-curation
    pipelines use exactly this as a cheap corpus-level redundancy
    score, and dedup-aware scaling-law work (e.g. SemDeDup's
    motivation) reads it as the marginal-information proxy.

    Scale shape: grams md5 to 32-byte digests BEFORE the shuffle (the
    llm_contamination_ngram discipline — raw text never leaves the
    map side); first-occurrence is one partial-aggregatable
    groupBy-min over (digest, doc_id); the join back is digest-keyed
    and slim. Counts are exact BIGINT, novelty is one shared IEEE
    division."""
    from parquet_importer_spark.functions.text import shingles

    d = parallelize(read_table(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id", shingles(F.col("text"), 3).alias("grams")
    )
    x = sh.select(
        "doc_id", F.explode("grams").alias("gram")
    ).select("doc_id", F.md5("gram").alias("g"))
    firsts = x.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    nov = (
        x.join(firsts, "g")
        .filter(F.col("first_doc") == F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        sh.join(nov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("grams").cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.size("grams"),
                6,
            ).alias("novelty"),
        )
    )


@query(
    "llm_rouge_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    u AS (
      SELECT doc_id, lang, list_distinct(toks) AS uni,
             list_distinct(CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                              i -> toks[i] || ' ' || toks[i+1])
               ELSE [array_to_string(toks, ' ')] END) AS bi
      FROM t
    ),
    refs AS (SELECT * FROM u WHERE doc_id % 50 = 0 AND doc_id < 1000000),
    pairs AS (
      SELECT r.doc_id AS ref_id, c.doc_id AS cand_id, r.lang,
             len(list_intersect(r.uni, c.uni)) AS o1,
             len(r.uni) AS nr1, len(c.uni) AS nc1,
             len(list_intersect(r.bi, c.bi)) AS o2,
             len(r.bi) AS nr2
      FROM refs r JOIN u c ON r.lang = c.lang AND r.doc_id <> c.doc_id
    )
    SELECT ref_id, cand_id, lang,
           ROUND(CAST(o1 AS DOUBLE) / nr1, 6) AS rouge1_recall,
           ROUND(CAST(o1 AS DOUBLE) / nc1, 6) AS rouge1_precision,
           ROUND(CAST(o2 AS DOUBLE) / nr2, 6) AS rouge2_recall
    FROM pairs
    WHERE ROUND(CAST(o1 AS DOUBLE) / nr1, 6) >= 0.2
    """,
)
def llm_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-style n-gram overlap scoring — distinct-unigram recall /
    precision and distinct-bigram recall of every same-language
    candidate against a small reference set (doc_id % 50 = 0 stands in
    for "the eval references"; in production the candidate list comes
    from retrieval, llm_index_bm25 / llm_sim_topk). This is the
    summarization-eval / reference-leakage metric: a candidate with
    high ROUGE recall against an eval reference is a contamination
    suspect the n-gram fingerprint pass (llm_contamination_ngram)
    confirms span-level.

    Scale shape: the reference side is a FIXED set — eval references
    don't multiply because the crawl did, so membership is capped at
    doc_id < 1e6 on top of the % 50 sieve (every driver-SF corpus sits
    entirely below the cap, so oracle outputs are unchanged; only the
    tagged scale replicas, whose ids start at 1e7, stop minting new
    "references"). The round-9 100× ladder caught the uncapped form at
    xlin 4.62 in the second decade: refs ∝ corpus made ref×candidate
    pairs quadratic BY CONSTRUCTION and grew the "tiny" broadcast
    toward 2 GB — the one super-linearity class no plan shape can fix,
    a cardinality contract stated wrong. With the cap the broadcast is
    constant-size, candidates stream past it keyed on lang, and no
    corpus self-join ever forms (post-fix: 237.7 → 8.5 s at sf10,
    xlin_b 0.30). Set sizes and overlaps are exact integers
    via array_intersect on sorted-distinct arrays; each metric is one
    shared IEEE division, rounded on both engines; the ≥0.2 recall
    gate bounds the output (and guarantees every emitted denominator
    is positive)."""
    from parquet_importer_spark.functions.text import shingles

    d = parallelize(read_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    u = d.select(
        "doc_id",
        "lang",
        F.array_distinct(toks).alias("uni"),
        shingles(F.col("text"), 2).alias("bi"),
    )
    refs = u.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 1_000_000)
    ).select(
        F.col("doc_id").alias("ref_id"),
        F.col("lang"),
        F.col("uni").alias("r_uni"),
        F.col("bi").alias("r_bi"),
    )
    pairs = u.join(F.broadcast(refs), "lang").filter(
        F.col("ref_id") != F.col("doc_id")
    )
    o1 = F.size(F.array_intersect("r_uni", "uni"))
    o2 = F.size(F.array_intersect("r_bi", "bi"))
    r1 = F.round(o1.cast("double") / F.size("r_uni"), 6)
    return pairs.select(
        "ref_id",
        F.col("doc_id").alias("cand_id"),
        "lang",
        r1.alias("rouge1_recall"),
        F.round(o1.cast("double") / F.size("uni"), 6).alias(
            "rouge1_precision"
        ),
        F.round(o2.cast("double") / F.size("r_bi"), 6).alias(
            "rouge2_recall"
        ),
    ).filter(F.col("rouge1_recall") >= 0.2)


@query(
    "llm_collocations_pmi",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT t1 AS x, t2 AS y FROM (
        SELECT unnest(toks[1:len(toks)-1]) AS t1,
               unnest(toks[2:len(toks)]) AS t2
        FROM t WHERE len(toks) >= 2
      )
    ),
    un AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
    ),
    tot AS (
      SELECT CAST((SELECT SUM(c) FROM un) AS BIGINT) AS n_uni,
             CAST((SELECT COUNT(*) FROM bg) AS BIGINT) AS n_bi
    ),
    cb AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
      FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 10
    )
    SELECT x, y, cxy, ux.c AS cx, uy.c AS cy,
           ROUND(LN(CAST(cxy AS DOUBLE)) + LN(CAST(n_uni AS DOUBLE))
                 + LN(CAST(n_uni AS DOUBLE)) - LN(CAST(n_bi AS DOUBLE))
                 - LN(CAST(ux.c AS DOUBLE)) - LN(CAST(uy.c AS DOUBLE)),
                 6) AS pmi
    FROM cb
    JOIN un ux ON ux.tok = cb.x
    JOIN un uy ON uy.tok = cb.y
    CROSS JOIN tot
    """,
)
def llm_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations by pointwise mutual information over
    adjacent token bigrams — the co-occurrence statistic behind
    word2vec/GloVe-era embedding prep, tokenizer-merge curation, and
    boilerplate-phrase discovery: PMI = ln(P(x,y) / (P(x)·P(y))) with
    P(x,y) from the bigram table and P(x) from unigrams, reported for
    every bigram seen >= 10 times alongside its exact counts.

    Float portability: the score is a FIXED left-associated sum of six
    ln() terms over exact integers, identical expression tree on both
    engines, rounded once at the end (the rounded-ln discipline
    llm_ngram_perplexity established); the exact integers cxy/cx/cy
    ride along so the float is auxiliary, never load-bearing.

    Scale shape: bigrams come from one zip-shifted array pass (no
    self-join); two map-combinable groupBys (bigram, unigram) are the
    only corpus-sized shuffles; the scalar totals broadcast; the
    unigram joins key on the vocabulary, which is corpus-sublinear.
    The >= 10 count floor prunes the heavy tail BEFORE the joins."""
    d = parallelize(read_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    t = d.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    n = F.size("toks")
    bg = t.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice(F.col("toks"), 2, n - 1),
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        ).alias("p")
    ).select("p.x", "p.y")
    un = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cb = (
        bg.groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
        .filter(F.col("cxy") >= 10)
    )
    tot = un.agg(F.sum("c").cast("bigint").alias("n_uni")).crossJoin(
        bg.agg(F.count(F.lit(1)).cast("bigint").alias("n_bi"))
    )
    ux = un.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    uy = un.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    ln = lambda c: F.log(c.cast("double"))  # noqa: E731
    return (
        cb.join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "cxy",
            "cx",
            "cy",
            F.round(
                ln(F.col("cxy"))
                + ln(F.col("n_uni"))
                + ln(F.col("n_uni"))
                - ln(F.col("n_bi"))
                - ln(F.col("cx"))
                - ln(F.col("cy")),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "llm_keyword_rake",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(range(0, len(toks))) AS pos,
             unnest(toks) AS tok
      FROM t
    ),
    ns AS (
      SELECT doc_id, pos, tok,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos
             ) AS island
      FROM pos
      WHERE tok NOT IN ('the','and','of','to','in','is','a','for','on','with')
        AND tok <> ''
    ),
    ph AS (
      SELECT doc_id, island, CAST(COUNT(*) AS BIGINT) AS plen,
             array_to_string(list(tok ORDER BY pos), ' ') AS phrase
      FROM ns GROUP BY 1, 2
    ),
    wo AS (
      SELECT n.tok, p.plen
      FROM ns n JOIN ph p
        ON p.doc_id = n.doc_id AND p.island = n.island
    ),
    ws AS (
      SELECT tok,
             CAST(ROUND(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 6)
                  AS DECIMAL(12,6)) AS wscore
      FROM wo GROUP BY tok
    ),
    psc AS (
      SELECT n.doc_id, n.island,
             CAST(SUM(w.wscore) AS DECIMAL(18,6)) AS score
      FROM ns n JOIN ws w ON w.tok = n.tok
      GROUP BY 1, 2
    )
    SELECT phrase, CAST(plen AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(MAX(score) AS DOUBLE) AS rake_score
    FROM ph JOIN psc USING (doc_id, island)
    WHERE plen BETWEEN 2 AND 8
    GROUP BY phrase, plen
    ORDER BY MAX(score) DESC, phrase
    LIMIT 100
    """,
)
def llm_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs; each
    word's score is degree/frequency where degree sums the lengths of
    every phrase the occurrence appears in (long-phrase words score
    higher — they co-occur more); a phrase scores the sum of its
    words' scores. Top-100 multi-word phrases (2-8 tokens) by score —
    the unsupervised keyphrase/boilerplate surfacing primitive for
    corpus exploration and template discovery.

    Phrase boundaries come from the gaps-islands trick (pos minus
    non-stop row_number), NOT a regex split on stopwords — regex
    engines differ across Spark (Java) and DuckDB (RE2); relational
    island detection is engine-portable by construction. Word scores
    quantize to DECIMAL(12,6) after ONE exact-integer division, so
    phrase scores are exact decimal sums — associativity-proof — and
    the final (score DESC, phrase) order is total, making LIMIT 100
    hash-stable.

    Scale shape: two corpus passes (posexplode -> islands window on
    the doc_id shuffle; phrase rollup on the same key), then all
    scoring on vocab-/phrase-sized tables; the word-score join keys
    on the vocabulary. Top-k is TakeOrderedAndProject."""
    from pyspark.sql import Window

    d = parallelize(read_table(spark, sf_dir, "documents"))
    pos = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    stop = ("the", "and", "of", "to", "in", "is", "a", "for", "on", "with")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    ns = (
        pos.filter(~F.col("tok").isin(*stop) & (F.col("tok") != ""))
        .withColumn("island", F.col("pos") - F.row_number().over(wdoc))
    )
    ph = ns.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("plen"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
    )
    wo = ns.join(ph.select("doc_id", "island", "plen"), ["doc_id", "island"])
    ws = wo.groupBy("tok").agg(
        F.round(
            F.sum("plen").cast("double") / F.count(F.lit(1)), 6
        )
        .cast("decimal(12,6)")
        .alias("wscore")
    )
    psc = (
        ns.join(ws, "tok")
        .groupBy("doc_id", "island")
        .agg(F.sum("wscore").cast("decimal(18,6)").alias("score"))
    )
    return (
        ph.join(psc, ["doc_id", "island"])
        .filter(F.col("plen").between(2, 8))
        .groupBy("phrase", F.col("plen").cast("bigint").alias("n_words"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.max("score").cast("double").alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "phrase")
        .limit(100)
    )


@query(
    "llm_source_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (SELECT source, {_SH3N} AS grams FROM t),
    ex AS (
      SELECT DISTINCT source, unnest(grams) AS gram FROM sh
    ),
    sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM ex GROUP BY 1
    ),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, sa.n_grams AS n_a, sb.n_grams AS n_b, n_shared,
           ROUND(CAST(n_shared AS DOUBLE)
                 / (sa.n_grams + sb.n_grams - n_shared), 6) AS jaccard
    FROM shared
    JOIN sz sa ON sa.source = shared.src_a
    JOIN sz sb ON sb.source = shared.src_b
    """,
)
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix — the training-mix
    diagnostic that tells you which corpus sources are restatements of
    each other BEFORE you weight them (two mirrors of the same crawl
    in a mix silently double their effective epoch count; DoReMi-style
    mixture tuning assumes sources are distinct). For every source
    pair sharing at least one distinct 3-gram shingle: both set sizes,
    the shared count, and the set Jaccard.

    Scale shape: the corpus reduces to DISTINCT (source, gram) rows in
    one pass (gram-digest-slim at 100 TB: swap gram for md5(gram), the
    llm_contamination_ngram move); pair expansion happens per gram
    from its SORTED source set — an array expression bounded by
    |sources| (the same set-based fan-out as the graph substrate,
    llm_dedup.py:_supplier_sigma_edges), never a self-join of the
    posting table against itself row-by-row — and the rollup lands on
    the |sources|^2-bounded pair grid. The size table is
    |sources|-row and broadcast. The oracle is the independent
    posting-self-join SQL, so the hash certifies the set-based fan-out
    against the classic formulation."""
    from parquet_importer_spark.functions.text import shingles

    d = read_table(spark, sf_dir, "documents")
    ex = (
        d.select("source", F.explode(shingles(F.col("text"), 3)).alias("gram"))
        .distinct()
    )
    sz = ex.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    shared = (
        ex.groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select(F.explode(in_bucket_pairs("ss", "src_a", "src_b")).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n_grams").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n_grams").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
