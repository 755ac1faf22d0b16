"""LLM-pretraining corpus operators, batch 2 (extension): segment-level
exact dedup, corpus-trained bigram-LM document scoring, and broadcast
linear-model quality classification.

These are the Spark-first forms of the data-pipeline stages the reference
era ran as MapReduce chains over text dumps (`EXAMPLES/WordCount.java:34`
lineage: tokenize → count → join-back), re-expressed as single declarative
plans so Catalyst keeps every tokenize/count/join stage JVM-side and
map-partial-aggregated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_spark.functions.numeric import dsum, dsum_sql, fsum, fsum_sql
from hadoop_spark.operators.graph import loop_width
from hadoop_spark.operators.join import bcast_if_small
from hadoop_spark.plans.catalog import query
from hadoop_spark.sources.tables import fanout_small, load_table, shared

# ----------------------------------------------------------------------
# dedup_paragraph — segment-level exact dedup (keep-first), the
# paragraph/line dedup stage of a pretraining pipeline. Docs are chunked
# into non-overlapping 10-token segments; a segment seen earlier in
# (doc_id, pos) order anywhere in the corpus is dropped; the result is the
# per-doc retention profile a curation run reports.
#
# Scale shape: the dedup key is md5(segment) — 32 bytes through the
# shuffle regardless of segment text length; one hash-partitioned window
# (row_number per segment) + one per-doc aggregation. Nothing is
# quadratic; keep-first semantics are deterministic under any
# partitioning because the window orders by the globally-unique
# (doc_id, pos).
# ----------------------------------------------------------------------

_SEG = 10  # tokens per dedup segment

_PARA_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents WHERE text IS NOT NULL
), segs AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
         md5(array_to_string(
           w[(CAST(t.i AS BIGINT)*{_SEG}+1):(CAST(t.i AS BIGINT)*{_SEG}+{_SEG})],
           ' ')) AS seg
  FROM toks, UNNEST(range(CAST(ceil(len(w)/{_SEG}.0) AS BIGINT))) AS t(i)
  WHERE len(w) > 0
), ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS retained_frac
FROM ranked GROUP BY doc_id
"""


@query("dedup_paragraph", _PARA_ORACLE)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment (paragraph) exact dedup with keep-first wins."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = fanout_small(docs).select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "").alias("w"),
    ).filter(F.size("w") > 0)
    nseg = F.ceil(F.size("w") / F.lit(float(_SEG))).cast("long")
    segs = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), nseg - 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.concat_ws(
                            " ", F.slice("w", (i * _SEG + 1).cast("int"), _SEG)
                        )
                    ).alias("seg"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg"))
    rn = F.row_number().over(
        Window.partitionBy("seg").orderBy("doc_id", "pos")
    )
    ranked = segs.withColumn("rn", rn)
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long")
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        kept.alias("n_kept"),
        (kept.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "retained_frac"
        ),
    )


# ----------------------------------------------------------------------
# bigram_lm_score — score every document under a bigram LM trained on the
# corpus itself (the KenLM-perplexity-filter analog: CCNet/Gopher-style
# pipelines score documents with an n-gram LM and drop the tail). The
# model IS a DataFrame (bigram + unigram count tables); inference is two
# shuffle joins keyed on the gram — at 100 TB the count tables shard like
# any table, nothing is collected.
#
# Determinism: scoring uses the mean Laplace-smoothed conditional
# probability p(w2|w1) = (c12 + 1) / (c1 + V) rather than mean log-prob —
# IEEE division of exact integers is correctly rounded in both engines,
# while ln() is only 1-ulp-accurate and engine-dependent. Mean-p is
# rank-equivalent enough for a drop-the-tail filter; a log-prob variant
# would need a shared correctly-rounded log table.
# ----------------------------------------------------------------------

_LM_KEEP = 0.004  # keep-threshold on mean conditional probability
_UGC_BCAST_MAX = 5_000_000  # |vocab| cap for broadcasting the unigram table

_LM_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id,
         w[CAST(t.i AS BIGINT) + 1] AS w1,
         w[CAST(t.i AS BIGINT) + 1] || ' ' || w[CAST(t.i AS BIGINT) + 2] AS bg
  FROM toks, UNNEST(range(len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
), bgc AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM grams GROUP BY bg
), ugc AS (
  SELECT u.w1 AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
    SELECT unnest(w) AS w1 FROM toks
  ) u GROUP BY u.w1
), vocab AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM ugc
), scored AS (
  SELECT g.doc_id,
         CAST(b.c12 + 1 AS DOUBLE) / CAST(u.c1 + vocab.v AS DOUBLE) AS p
  FROM grams g
  JOIN bgc b ON g.bg = b.bg
  JOIN ugc u ON g.w1 = u.w
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ({fsum_sql("p", 12)} / CAST(COUNT(*) AS DOUBLE)) AS mean_p,
       (({fsum_sql("p", 12)} / CAST(COUNT(*) AS DOUBLE)) >= {_LM_KEEP}) AS keep
FROM scored GROUP BY doc_id
"""


@query("bigram_lm_score", _LM_ORACLE)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM mean-probability score + keep flag per document."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    from hadoop_spark.sources.tables import shared

    toks = shared(
        fanout_small(docs).select(
            "doc_id",
            F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "").alias("w"),
        )
    )
    grams = toks.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("w1"),
                    F.concat_ws(
                        " ", F.element_at("w", i), F.element_at("w", i + 1)
                    ).alias("bg"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.bg")
    bgc = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    ugc = shared(
        toks.select(F.explode("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # The unigram table is vocab-sized but its JOIN KEY (w1) is Zipf-skewed
    # on the gram side: without a broadcast the most frequent word's entire
    # gram stream rides a handful of shuffle tasks. Vocabularies up to a
    # few million terms broadcast comfortably; the guard collects ONE
    # bounded scalar (|vocab|, needed for Laplace smoothing anyway) and
    # falls back to the AQE-skew-covered shuffle join only above the cap.
    n_vocab = ugc.agg(F.count(F.lit(1)).alias("v")).first()["v"]
    ugc_side = F.broadcast(ugc) if n_vocab <= _UGC_BCAST_MAX else ugc
    # r10 audit: p is a raw IEEE quotient of exact integer counts
    # (bit-equal), the per-doc mean uses fsum (floor-quantized exact sum
    # of the generic quotients), and the keep threshold compares the raw
    # mean — no decimal rounding rule anywhere.
    p = (F.col("c12") + 1).cast("double") / (
        F.col("c1") + F.lit(n_vocab)
    ).cast("double")
    scored = (
        grams.join(bgc, "bg")
        .join(ugc_side, F.col("w1") == F.col("w"))
        .select("doc_id", p.alias("p"))
    )
    mean_p = fsum(F.col("p"), 12) / F.count(F.lit(1)).cast("double")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        mean_p.alias("mean_p"),
        (mean_p >= F.lit(_LM_KEEP)).alias("keep"),
    )


# ----------------------------------------------------------------------
# quality_classifier — broadcast linear-model inference over engineered
# text features (the fastText-quality-classifier stage of a pretraining
# pipeline, with the model weights as side data — the DistributedCache
# pattern, `MR-CORE/filecache/DistributedCache.java` lineage). The model
# rides a 1-row broadcast; scoring is a pure JVM expression per document,
# no shuffle at all until nothing (this is a map-only job).
#
# Determinism: the margin is evaluated with an identical left-associated
# expression tree in both engines over identically-computed double
# features; the decision threshold compares the margin quantized to
# DECIMAL(18,8) so the boolean cannot flip on sub-quantum noise.
# ----------------------------------------------------------------------

# (bias, w_stopword_ratio, w_mean_token_len, w_uniq_ratio, w_tokens_per_100)
_QC_W = ("-1.5", "4.0", "0.25", "1.0", "0.5")

_QC_FEATS_SQL = r"""
  feats AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                w -> w <> '')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(list_filter(
                 string_split_regex(lower(text), '\s+'),
                 w -> w <> ''))) AS BIGINT) AS n_uniq,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                 w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
                AS BIGINT) AS n_stop,
           CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
    FROM documents WHERE text IS NOT NULL
  )
"""

_QC_MARGIN_SQL = (
    f"CAST({_QC_W[0]} AS DOUBLE)"
    f" + CAST({_QC_W[1]} AS DOUBLE)"
    " * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
    f" + CAST({_QC_W[2]} AS DOUBLE)"
    " * (CAST(n_nonspace AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
    f" + CAST({_QC_W[3]} AS DOUBLE)"
    " * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
    f" + CAST({_QC_W[4]} AS DOUBLE)"
    " * (CAST(n_tokens AS DOUBLE) / CAST(100 AS DOUBLE))"
)

_QC_ORACLE = f"""
WITH {_QC_FEATS_SQL}
SELECT doc_id, n_tokens,
       ({_QC_MARGIN_SQL}) AS margin,
       (({_QC_MARGIN_SQL}) > 0) AS keep
FROM feats WHERE n_tokens > 0
"""


@query("quality_classifier", _QC_ORACLE)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier with weights joined in as broadcast side
    data (model-as-DataFrame — swap the literal row for a parquet of
    trained weights and nothing else changes)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    stop = F.array([F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is")])
    feats = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_uniq"),
        F.size(F.filter(w, lambda t: F.array_contains(stop, t)))
        .cast("long")
        .alias("n_stop"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("n_nonspace"),
    ).filter(F.col("n_tokens") > 0)
    weights = spark.createDataFrame(
        [tuple(float(x) for x in _QC_W)],
        "b double, w_stop double, w_len double, w_uniq double, w_tok double",
    )
    j = feats.crossJoin(F.broadcast(weights))
    margin = (
        F.col("b")
        + F.col("w_stop") * (F.col("n_stop").cast("double") / F.col("n_tokens").cast("double"))
        + F.col("w_len") * (F.col("n_nonspace").cast("double") / F.col("n_tokens").cast("double"))
        + F.col("w_uniq") * (F.col("n_uniq").cast("double") / F.col("n_tokens").cast("double"))
        + F.col("w_tok") * (F.col("n_tokens").cast("double") / F.lit(100).cast("double"))
    )
    # r10 audit: margin is an identical IEEE chain (literal weights x
    # exact-integer-count ratios) on both engines — raw double output and
    # raw threshold compare, no quantization.
    return j.select(
        "doc_id",
        "n_tokens",
        margin.alias("margin"),
        (margin > 0).alias("keep"),
    )


# ----------------------------------------------------------------------
# chunk_documents — overlapping sliding-window chunking (RAG / context-
# window prep): W-token chunks every S tokens, last partial chunk kept.
# Pure map-side work (tokenize + windowed slice + fingerprint per chunk) —
# a 100 TB corpus chunks with ZERO shuffles; the fingerprint column is
# what a downstream chunk-dedup or vector-index build keys on.
# ----------------------------------------------------------------------

_CHUNK_W = 32  # tokens per chunk
_CHUNK_S = 24  # stride (8-token overlap)

_CHUNK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_id,
       CAST(len(w[(CAST(t.i AS BIGINT)*{_CHUNK_S}+1)
                  :(CAST(t.i AS BIGINT)*{_CHUNK_S}+{_CHUNK_W})]) AS BIGINT)
         AS n_tokens,
       md5(array_to_string(
         w[(CAST(t.i AS BIGINT)*{_CHUNK_S}+1)
           :(CAST(t.i AS BIGINT)*{_CHUNK_S}+{_CHUNK_W})], ' ')) AS chunk_fp
FROM toks, UNNEST(range(CAST(ceil(len(w)/{_CHUNK_S}.0) AS BIGINT))) AS t(i)
WHERE len(w) > 0
"""


@query("chunk_documents", _CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping W=32/stride=24 token chunks with per-chunk fingerprints."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = fanout_small(docs).select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "").alias("w"),
    ).filter(F.size("w") > 0)
    nchunk = F.ceil(F.size("w") / F.lit(float(_CHUNK_S))).cast("long")
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), nchunk - 1),
                lambda i: F.struct(
                    i.alias("chunk_id"),
                    F.size(
                        F.slice("w", (i * _CHUNK_S + 1).cast("int"), _CHUNK_W)
                    )
                    .cast("long")
                    .alias("n_tokens"),
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.slice("w", (i * _CHUNK_S + 1).cast("int"), _CHUNK_W),
                        )
                    ).alias("chunk_fp"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_id", "c.n_tokens", "c.chunk_fp")


# ----------------------------------------------------------------------
# incremental_dedup — dedup a NEW shard against the existing corpus (the
# steady-state form of exact dedup: the historical fingerprint index is a
# table, the daily increment joins against it — never re-deduping the
# whole corpus). The join keys on the 32-byte fingerprint; at 100 TB the
# history side is fingerprint-only (32 bytes/doc), shuffled on fp — or
# pre-bucketed by fp so the daily join is co-located, with a bloom filter
# pre-pass to skip the non-matching majority (the runtime bloom gate in
# tests/test_plan_quality.py shows the engine applies one).
# ----------------------------------------------------------------------

_INCR_ORACLE = """
WITH fp AS (
  SELECT doc_id, source, md5(text) AS f
  FROM documents WHERE text IS NOT NULL
),
history AS (SELECT DISTINCT f FROM fp WHERE source <> 'src0'),
batch AS (SELECT doc_id, f FROM fp WHERE source = 'src0')
SELECT b.doc_id, (h.f IS NOT NULL) AS is_dup
FROM batch b LEFT JOIN history h ON b.f = h.f
"""


@query("incremental_dedup", _INCR_ORACLE)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-shard-vs-corpus exact dedup: src0 is the incoming batch, every
    other source is the historical index."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    fp = docs.select("doc_id", "source", F.md5("text").alias("f"))
    history = fp.filter(F.col("source") != "src0").select("f").distinct()
    batch = fp.filter(F.col("source") == "src0").select("doc_id", "f")
    h = history.withColumn("hit", F.lit(True))
    return batch.join(h, "f", "left").select(
        "doc_id", F.coalesce(F.col("hit"), F.lit(False)).alias("is_dup")
    )


# ----------------------------------------------------------------------
# bpe_pair_counts — the inner loop of BPE tokenizer training: frequencies
# of adjacent symbol pairs within words, weighted by word frequency (the
# count table from which the highest-frequency pair becomes the next
# merge). Two-level aggregation keeps the big shuffle bounded: words
# dedupe to (word, count) first — pair explosion then runs over the
# VOCABULARY (distinct words), not the corpus, the standard trick that
# makes BPE training feasible on a 100 TB corpus (vocab is millions,
# corpus is trillions).
# ----------------------------------------------------------------------

_BPE_MIN = 5  # pair-count cutoff keeps the table bounded

_BPE_ORACLE = rf"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS w
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY w
),
pairs AS (
  SELECT substr(w, CAST(t.i AS INT) + 1, 2) AS pair, wc
  FROM words, UNNEST(range(len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
FROM pairs GROUP BY pair
HAVING SUM(wc) >= {_BPE_MIN}
"""


@query("bpe_pair_counts", _BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted adjacent character-pair counts over the vocabulary."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = (
        fanout_small(docs)
        .select(
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substr(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n"))
        .filter(F.col("n") >= _BPE_MIN)
    )


# ----------------------------------------------------------------------
# chi2_terms — per-language discriminative vocabulary via the chi-square
# statistic over (term x language) document-presence contingency tables —
# the classic feature-selection pass of corpus analysis (and a data-mix
# debugging tool: which terms make src/lang slices differ). Counts are
# document-level presence (DISTINCT per doc), the contingency algebra is
# exact integers cast to DOUBLE through one fixed expression tree, and
# ranking compares the DECIMAL-quantized statistic so order cannot flip
# on sub-quantum noise. Shuffles: the posting distinct + two bounded
# aggregations + a vocabulary-sized top-k window.
# ----------------------------------------------------------------------

_CHI2_MIN_DF = 10  # term must appear in >= 10 docs
_CHI2_TOPK = 5

_CHI2_ORACLE = rf"""
WITH docs0 AS (
  SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL
),
posts AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM docs0
),
tl AS (
  SELECT term, lang, CAST(COUNT(*) AS BIGINT) AS a
  FROM posts GROUP BY term, lang
),
tt AS (
  SELECT term, CAST(SUM(a) AS BIGINT) AS nt FROM tl GROUP BY term
),
lt AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl FROM docs0 GROUP BY lang
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs0),
chi AS (
  SELECT tl.lang, tl.term,
         (CAST(t2.n AS DOUBLE)
          * (CAST(tl.a AS DOUBLE) * CAST(t2.n - tt.nt - lt.nl + tl.a AS DOUBLE)
             - CAST(tt.nt - tl.a AS DOUBLE) * CAST(lt.nl - tl.a AS DOUBLE))
          * (CAST(tl.a AS DOUBLE) * CAST(t2.n - tt.nt - lt.nl + tl.a AS DOUBLE)
             - CAST(tt.nt - tl.a AS DOUBLE) * CAST(lt.nl - tl.a AS DOUBLE)))
         / (CAST(tt.nt AS DOUBLE) * CAST(t2.n - tt.nt AS DOUBLE)
            * CAST(lt.nl AS DOUBLE) * CAST(t2.n - lt.nl AS DOUBLE)) AS chi2
  FROM tl
  JOIN tt ON tl.term = tt.term
  JOIN lt ON tl.lang = lt.lang
  CROSS JOIN tot t2
  WHERE tt.nt >= {_CHI2_MIN_DF} AND tt.nt < t2.n AND lt.nl < t2.n
)
SELECT lang, term, chi2 FROM (
  SELECT lang, term, chi2,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY chi2 DESC, term) AS rk
  FROM chi
) WHERE rk <= {_CHI2_TOPK}
"""


@query("chi2_terms", _CHI2_ORACLE)
def chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 chi-square discriminative terms per language."""
    docs0 = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
    )
    posts = (
        fanout_small(docs0)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(
                    F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
                )
            ).alias("term"),
        )
    )
    tl = posts.groupBy("term", "lang").agg(F.count(F.lit(1)).alias("a"))
    tt = tl.groupBy("term").agg(F.sum("a").cast("long").alias("nt"))
    lt = docs0.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    tot = docs0.agg(F.count(F.lit(1)).alias("n"))
    j = (
        tl.join(tt, "term")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("nt") >= _CHI2_MIN_DF)
            & (F.col("nt") < F.col("n"))
            & (F.col("nl") < F.col("n"))
        )
    )
    ad_bc = F.col("a").cast("double") * (
        F.col("n") - F.col("nt") - F.col("nl") + F.col("a")
    ).cast("double") - (F.col("nt") - F.col("a")).cast("double") * (
        F.col("nl") - F.col("a")
    ).cast("double")
    # r10 audit: raw IEEE chi2 of exact int64 contingency counts (same
    # left-associated expression tree as the oracle) — bit-equal, so the
    # top-k ordering is identical on both engines without quantization.
    chi2 = (F.col("n").cast("double") * ad_bc * ad_bc) / (
        F.col("nt").cast("double")
        * (F.col("n") - F.col("nt")).cast("double")
        * F.col("nl").cast("double")
        * (F.col("n") - F.col("nl")).cast("double")
    )
    scored = j.select("lang", "term", chi2.alias("chi2"))
    # Two-level exact top-k: a single window per language would pull the
    # WHOLE vocabulary of a language through one partition (5 languages =
    # 5 giant partitions at corpus scale — the keyfield_sort anti-pattern).
    # Instead rank within (lang, term-hash salt) buckets first, keep 5 per
    # bucket, then rank the 5 * n_salts survivors. Top-k under a total
    # order is invariant under this refinement, so the simple single-window
    # SQL oracle still matches row-for-row.
    n_salts = 32
    salted = scored.withColumn("salt", F.pmod(F.hash("term"), F.lit(n_salts)))
    order = (F.col("chi2").desc(), F.col("term"))
    rk1 = F.row_number().over(Window.partitionBy("lang", "salt").orderBy(*order))
    survivors = salted.withColumn("rk1", rk1).filter(F.col("rk1") <= _CHI2_TOPK)
    rk2 = F.row_number().over(Window.partitionBy("lang").orderBy(*order))
    return (
        survivors.withColumn("rk", rk2)
        .filter(F.col("rk") <= _CHI2_TOPK)
        .select("lang", "term", "chi2")
    )


# ----------------------------------------------------------------------
# source_tv_divergence — total-variation distance between each source's
# unigram distribution and the corpus distribution: the data-mix drift
# monitor (which source's text is unlike the rest / did an ingest shift).
# TV is used instead of KL because it needs no logarithm: engine-exact
# from integer counts + quantized sums. Absent terms are handled in
# closed form (TV = 0.5 * (sum_observed |p - q| + (1 - sum_observed q))),
# so the join stays on OBSERVED (source, term) pairs — never the
# |sources| x |vocab| cross product.
# ----------------------------------------------------------------------

_TV_ORACLE = rf"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM documents WHERE text IS NOT NULL
),
st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM toks
  GROUP BY source, term
),
stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM st GROUP BY source),
ct AS (SELECT term, CAST(SUM(c) AS BIGINT) AS cc FROM st GROUP BY term),
tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS n FROM ct),
obs AS (
  SELECT s.source,
         ABS(CAST(s.c AS DOUBLE) / CAST(t.ns AS DOUBLE)
             - CAST(c2.cc AS DOUBLE) / CAST(o.n AS DOUBLE)) AS adiff,
         CAST(c2.cc AS DOUBLE) / CAST(o.n AS DOUBLE) AS q
  FROM st s
  JOIN stot t ON s.source = t.source
  JOIN ct c2 ON s.term = c2.term
  CROSS JOIN tot o
)
SELECT source,
       0.5 * ({fsum_sql("adiff", 12)}
              + (CAST(1 AS DOUBLE) - {fsum_sql("q", 12)})) AS tv
FROM obs GROUP BY source
"""


@query("source_tv_divergence", _TV_ORACLE)
def source_tv_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus unigram mix."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = fanout_small(docs).select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("term"),
    )
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    from hadoop_spark.sources.tables import shared

    st = shared(st)
    stot = st.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    ct = st.groupBy("term").agg(F.sum("c").cast("long").alias("cc"))
    tot = ct.agg(F.sum("cc").cast("long").alias("n"))
    # r10 audit: adiff/q are raw IEEE quotients of exact int64 counts;
    # their sums use fsum (generic addends), and tv is the raw result.
    q = F.col("cc").cast("double") / F.col("n").cast("double")
    adiff = F.abs(
        F.col("c").cast("double") / F.col("ns").cast("double")
        - F.col("cc").cast("double") / F.col("n").cast("double")
    )
    obs = (
        st.join(F.broadcast(stot), "source")
        .join(ct, "term")
        .crossJoin(F.broadcast(tot))
        .select("source", adiff.alias("adiff"), q.alias("q"))
    )
    tv = F.lit(0.5) * (
        fsum(F.col("adiff"), 12)
        + (F.lit(1).cast("double") - fsum(F.col("q"), 12))
    )
    return obs.groupBy("source").agg(tv.alias("tv"))


# ----------------------------------------------------------------------
# token_gini — per-document lexical diversity as the Gini impurity of the
# token distribution: 1 - sum_t (c_t/n)^2. The log-free stand-in for
# token entropy (same ordering for filtering purposes, but exact across
# engines: integer counts, one IEEE division). Fully MAP-SIDE — the
# per-doc counts come from an expression over the token array, so a
# 100 TB corpus scores with zero shuffles. Work per doc is O(u * n)
# (distinct terms x tokens), bounded by document length — the same class
# of bound as the quality_score feature pass.
# ----------------------------------------------------------------------

_GINI_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
       (CAST(len(w) AS DOUBLE) * CAST(len(w) AS DOUBLE)
        - CAST(list_sum(list_transform(list_distinct(w),
            t -> CAST(len(list_filter(w, x -> x = t)) AS BIGINT)
                 * CAST(len(list_filter(w, x -> x = t)) AS BIGINT)))
          AS DOUBLE))
       / (CAST(len(w) AS DOUBLE) * CAST(len(w) AS DOUBLE)) AS gini
FROM toks WHERE len(w) > 0
"""


@query("token_gini", _GINI_ORACLE)
def token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-impurity token diversity per document, zero-shuffle."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = fanout_small(docs).select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "").alias("w"),
    ).filter(F.size("w") > 0)
    count_of = lambda t: F.size(F.filter(F.col("w"), lambda x: x == t)).cast("bigint")  # noqa: E731
    sum_sq = F.aggregate(
        F.transform(F.array_distinct("w"), lambda t: count_of(t) * count_of(t)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    n = F.size("w").cast("long")
    nd = n.cast("double")
    # r10 audit: raw IEEE quotient of exact int64 token counts.
    gini = (nd * nd - sum_sq.cast("double")) / (nd * nd)
    return toks.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct("w")).cast("long").alias("n_uniq"),
        gini.alias("gini"),
    )


# ----------------------------------------------------------------------
# bpe_learn_merges — the actual BPE training loop, not just its count
# table (`bpe_pair_counts` above is one inner iteration's statistics):
# K=4 greedy merge steps, each picking the corpus-weighted most frequent
# adjacent symbol pair (ties -> lexicographically first) and applying the
# merge to the whole vocabulary before the next count.
#
# Scale shape — the canonical bounded-iterate pattern: the corpus is
# scanned ONCE into (word, count); every iteration after that runs over
# the VOCABULARY (millions of rows at 100 TB, vs trillions of tokens),
# and the only driver-side state is the single argmax pair per step
# (1-row collect, the same bounded discipline as kmeans_assign's K
# centroids). Merge application is a pure map (string replace), so each
# step costs one vocab-sized aggregation shuffle — K shuffles total.
#
# Merge semantics (identical on both engines, documented): symbols are
# space-separated; a merge replaces ' a b ' with ' ab ' by leftmost
# non-overlapping scan, applied 3x so runs of up to 8 identical symbols
# merge within one step (both engines' replace() is the same
# leftmost-non-overlapping scan, so results are bit-identical).
# ----------------------------------------------------------------------

_BPE_STEPS = 4


def _merge_sql(sym_expr: str, pair_expr: str) -> str:
    """3x padded leftmost replace of `pair` inside the symbol string."""
    out = f"' ' || {sym_expr} || ' '"
    pat = f"' ' || {pair_expr} || ' '"
    repl = f"' ' || replace({pair_expr}, ' ', '') || ' '"
    for _ in range(3):
        out = f"replace({out}, {pat}, {repl})"
    return f"trim({out})"


def _bpe_oracle() -> str:
    ctes = [
        r"""v0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym, wc FROM (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS w
      FROM documents WHERE text IS NOT NULL
    ) GROUP BY w
  )
)"""
    ]
    for i in range(_BPE_STEPS):
        ctes.append(
            f"""p{i} AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS w FROM (
    SELECT unnest(list_transform(
             range(2, len(string_split(sym, ' ')) + 1),
             j -> string_split(sym, ' ')[j - 1] || ' ' || string_split(sym, ' ')[j]
           )) AS pair, wc
    FROM v{i}
  ) GROUP BY pair
)""" 
        )
        ctes.append(f"b{i} AS (SELECT pair, w FROM p{i} ORDER BY w DESC, pair LIMIT 1)")
        if i + 1 < _BPE_STEPS:
            ctes.append(
                f"""v{i + 1} AS (
  SELECT {_merge_sql('v.sym', 'b.pair')} AS sym, v.wc
  FROM v{i} v, b{i} b
)"""
            )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS INTEGER) AS step, pair, "
        f"replace(pair, ' ', '') AS merged, w AS weight FROM b{i}"
        for i in range(_BPE_STEPS)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def _adjacent_pairs(sym_col):
    """Adjacent symbol pairs of a space-separated symbol string."""
    arr = F.split(sym_col, " ")
    n = F.size(arr)
    return F.transform(
        F.slice(arr, 1, n - 1),
        lambda x, i: F.concat(x, F.lit(" "), F.get(arr, i + 1)),
    )


@query("bpe_learn_merges", _bpe_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K greedy BPE merge steps over the corpus-weighted vocabulary."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    from hadoop_spark.sources.tables import shared

    vocab = shared(
        fanout_small(docs)
        .select(
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("sym"), "wc"
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = vocab
    # r10: the K argmax steps run under loop_width pinned from the counted
    # vocab cardinality (the reduce side of each step's pair-count agg is
    # bounded by the distinct-pair set, itself vocab-bounded; the count
    # also materializes the cache the first step needed anyway). A/B
    # (balanced): warm 2.42-3.36 s -> 1.94-2.95, merges identical.
    with loop_width(spark, vocab.count()):
        for step in range(1, _BPE_STEPS + 1):
            best = (
                cur.select(
                    F.explode(_adjacent_pairs(F.col("sym"))).alias("pair"), "wc"
                )
                .groupBy("pair")
                .agg(F.sum("wc").cast("long").alias("w"))
                .orderBy(F.desc("w"), "pair")
                .first()
            )  # 1-row collect per step — bounded driver state by construction
            if best is None:  # degenerate corpus: single-symbol words only
                break
            merged = best.pair.replace(" ", "")
            merges.append((step, best.pair, merged, int(best.w)))
            if step < _BPE_STEPS:
                sym = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
                for _ in range(3):
                    sym = F.replace(
                        sym, F.lit(f" {best.pair} "), F.lit(f" {merged} ")
                    )
                cur = cur.select(F.trim(sym).alias("sym"), "wc")
    vocab.unpersist()
    return spark.createDataFrame(
        merges, "step int, pair string, merged string, weight long"
    )


# ----------------------------------------------------------------------
# bpe_encode — the second half of the tokenizer loop: ENCODE the corpus
# with the merges bpe_learn_merges trains. Encoding happens at the
# vocabulary level (apply merges to each DISTINCT (source, word) once,
# then weight by the word's count), so the merge-application cost is
# vocab-sized regardless of corpus token count — the same reason BPE
# training itself scales. Char-level token count needs no chain at all:
# it is word length. Output is the per-source compression ledger.
# ----------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    # learn chain over the global vocab — identical to _bpe_oracle
    ctes = [
        r"""v0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym, wc FROM (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS w
      FROM documents WHERE text IS NOT NULL
    ) GROUP BY w
  )
)"""
    ]
    for i in range(_BPE_STEPS):
        ctes.append(
            f"""p{i} AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS w FROM (
    SELECT unnest(list_transform(
             range(2, len(string_split(sym, ' ')) + 1),
             j -> string_split(sym, ' ')[j - 1] || ' ' || string_split(sym, ' ')[j]
           )) AS pair, wc
    FROM v{i}
  ) GROUP BY pair
)"""
        )
        ctes.append(f"b{i} AS (SELECT pair, w FROM p{i} ORDER BY w DESC, pair LIMIT 1)")
        if i + 1 < _BPE_STEPS:
            ctes.append(
                f"""v{i + 1} AS (
  SELECT {_merge_sql('v.sym', 'b.pair')} AS sym, v.wc
  FROM v{i} v, b{i} b
)"""
            )
    # per-source vocab with every learned merge applied (LEFT join: a
    # degenerate corpus with no learnable pair encodes unchanged)
    ctes.append(
        r"""s0 AS (
  SELECT source, w, wc, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym FROM (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS w
      FROM documents WHERE text IS NOT NULL
    ) GROUP BY source, w
  )
)"""
    )
    for i in range(_BPE_STEPS):
        ctes.append(
            f"""s{i + 1} AS (
  SELECT s.source, s.w, s.wc,
         CASE WHEN b.pair IS NULL THEN s.sym
              ELSE {_merge_sql('s.sym', 'b.pair')} END AS sym
  FROM s{i} s LEFT JOIN b{i} b ON TRUE
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT source,
       CAST(SUM(wc) AS BIGINT) AS n_word_occurrences,
       CAST(SUM(wc * length(w)) AS BIGINT) AS n_char_tokens,
       CAST(SUM(wc * len(string_split(sym, ' '))) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(wc * length(w)) AS DOUBLE)
         / CAST(SUM(wc * len(string_split(sym, ' '))) AS DOUBLE) AS compression
FROM s{_BPE_STEPS}
GROUP BY source
"""
    )


@query("bpe_encode", _bpe_encode_oracle())
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the trained BPE merges and report the
    per-source compression ledger (word occurrences, char-level tokens,
    BPE tokens, compression ratio). Merges are learned exactly as in
    `bpe_learn_merges` (K bounded 1-row argmax collects over the global
    vocabulary); encoding applies them as chained literal replaces over
    the per-(source, word) vocabulary — map-side, vocab-sized work, with
    counts folded back by multiplication, so no token-level row stream
    ever exists. The ratio is one IEEE division of exact BIGINTs."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    from hadoop_spark.sources.tables import shared

    words = shared(
        fanout_small(docs)
        .select(
            "source",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # Persist the global vocab like the sibling bpe_learn_merges does: each
    # of the K argmax steps otherwise re-runs the vocab aggregation (and k
    # accumulated merge-replaces) from `words` — AQE's stage cache dedupes
    # the exchange, not the reduce-side aggregation above it. Balanced-ABBA
    # A/B (r10): warm median 3.8→3.1 s, cold plan build also wins; merges
    # byte-identical.
    vocab = shared(
        words.groupBy("w")
        .agg(F.sum("wc").cast("long").alias("wc"))
        .select(F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("sym"), "wc")
    )
    merges: list[str] = []
    cur = vocab
    # r10: same loop_width regime as bpe_learn_merges (vocab-bounded
    # reduce side; the count materializes the just-persisted cache).
    with loop_width(spark, vocab.count()):
        for step in range(_BPE_STEPS):
            best = (
                cur.select(
                    F.explode(_adjacent_pairs(F.col("sym"))).alias("pair"), "wc"
                )
                .groupBy("pair")
                .agg(F.sum("wc").cast("long").alias("cw"))
                .orderBy(F.desc("cw"), "pair")
                .first()
            )  # 1-row collect per step — bounded driver state
            if best is None:
                break
            merges.append(best.pair)
            if step + 1 < _BPE_STEPS:
                sym = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
                merged = best.pair.replace(" ", "")
                for _ in range(3):
                    sym = F.replace(
                        sym, F.lit(f" {best.pair} "), F.lit(f" {merged} ")
                    )
                cur = cur.select(F.trim(sym).alias("sym"), "wc")
    vocab.unpersist()  # the encode path below reads `words`, not vocab
    sym = F.concat(
        F.lit(" "), F.trim(F.regexp_replace("w", "(.)", "$1 ")), F.lit(" ")
    )
    for pair in merges:
        merged = pair.replace(" ", "")
        for _ in range(3):
            sym = F.replace(sym, F.lit(f" {pair} "), F.lit(f" {merged} "))
    encoded = words.select(
        "source",
        "wc",
        F.length("w").cast("bigint").alias("n_char"),
        F.size(F.split(F.trim(sym), " ")).cast("bigint").alias("n_bpe"),
    )
    return encoded.groupBy("source").agg(
        F.sum("wc").alias("n_word_occurrences"),
        F.sum(F.col("wc") * F.col("n_char")).alias("n_char_tokens"),
        F.sum(F.col("wc") * F.col("n_bpe")).alias("n_bpe_tokens"),
        (
            F.sum(F.col("wc") * F.col("n_char")).cast("double")
            / F.sum(F.col("wc") * F.col("n_bpe")).cast("double")
        ).alias("compression"),
    )


# ----------------------------------------------------------------------
# skipgram_pairs — word2vec/GloVe training-pair extraction: for every
# token, its contexts at distance 1 and 2 (symmetric window), counted
# corpus-wide. The pair stream is generated MAP-SIDE from the token
# array (arrays_zip of the array with its own 1- and 2-shifted slices —
# no posexplode + per-doc window shuffle, no self-join on position), so
# the only shuffle is the final (center, ctx) count aggregation, which
# partial-aggregates map-side. At 100 TB this is the canonical two-stage
# shape: linear scan fan-out (≤ 2 pairs/token/direction) into a combiner
# — the exact WordCount.java:34 lineage with a compound key.
# ----------------------------------------------------------------------

_SKIPGRAM_TOPN = 300

_SKIPGRAM_ORACLE = rf"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
),
zp AS (
  SELECT unnest(list_zip(w, w[2:])) AS p FROM toks
  UNION ALL
  SELECT unnest(list_zip(w, w[3:])) AS p FROM toks
),
pr AS (
  SELECT p[1] AS center, p[2] AS ctx FROM zp WHERE p[2] IS NOT NULL
  UNION ALL
  SELECT p[2] AS center, p[1] AS ctx FROM zp WHERE p[2] IS NOT NULL
)
SELECT center, ctx, CAST(COUNT(*) AS BIGINT) AS cnt
FROM pr GROUP BY center, ctx
ORDER BY cnt DESC, center, ctx LIMIT {_SKIPGRAM_TOPN}
"""


@query("skipgram_pairs", _SKIPGRAM_ORACLE)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric window-2 skip-gram (center, context) counts, top-N."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""
        ).alias("w")
    )
    zipped = toks.select(
        F.explode(
            F.concat(
                F.arrays_zip(
                    F.col("w").alias("a"),
                    F.slice(F.col("w"), 2, F.size("w")).alias("b"),
                ),
                F.arrays_zip(
                    F.col("w").alias("a"),
                    F.slice(F.col("w"), 3, F.size("w")).alias("b"),
                ),
            )
        ).alias("p")
    ).filter(F.col("p.b").isNotNull())
    pairs = zipped.select(
        F.col("p.a").alias("center"), F.col("p.b").alias("ctx")
    ).unionAll(
        zipped.select(F.col("p.b").alias("center"), F.col("p.a").alias("ctx"))
    )
    return (
        pairs.groupBy("center", "ctx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "center", "ctx")
        .limit(_SKIPGRAM_TOPN)
    )


# ----------------------------------------------------------------------
# tokenizer_fertility — tokens-per-word by language: the fertility metric
# tokenizer evaluations report (a high BPE/whitespace ratio means the
# vocabulary splits that language's words into many pieces — a training
# cost and quality signal). Both token counts are map-side JVM
# expressions over each document (`functions/text.py`), so the whole
# query is one bounded per-language aggregation; the ratio is one IEEE
# division of exact BIGINTs.
# ----------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({{ws}}) AS BIGINT) AS ws_tokens,
       CAST(SUM({{bpe}}) AS BIGINT) AS bpe_tokens,
       (CAST(SUM({{bpe}}) AS DOUBLE) / CAST(SUM({{ws}}) AS DOUBLE)) AS fertility
FROM documents WHERE text IS NOT NULL
GROUP BY lang
"""


def _fertility_oracle() -> str:
    from hadoop_spark.functions.text import bpe_token_count_sql, ws_token_count_sql

    return _FERTILITY_ORACLE.format(
        ws=ws_token_count_sql("text"), bpe=bpe_token_count_sql("text")
    )


@query("tokenizer_fertility", _fertility_oracle())
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_spark.functions.text import bpe_token_count, ws_token_count

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    per_doc = docs.select(
        "lang",
        ws_token_count(F.col("text")).alias("wst"),
        bpe_token_count(F.col("text")).alias("bpet"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("wst").cast("bigint").alias("ws_tokens"),
        F.sum("bpet").cast("bigint").alias("bpe_tokens"),
        (
            F.sum("bpet").cast("double") / F.sum("wst").cast("double")
        ).alias("fertility"),
    )


# ----------------------------------------------------------------------
# nb_langid — a trained CHARACTER-TRIGRAM Naive-Bayes language
# classifier (char n-grams are the features that separate languages —
# the same signal family as lang_id's heuristic), train and
# inference in ONE plan (the model is a DataFrame, the bigram_lm_score
# discipline): even docs train, odd docs classify, output is the
# (true × predicted) confusion matrix. Log-free determinism: the
# per-(lang, term) weight is a 1/16-bit piecewise-linear integer log2
# (16·bitlen + top-4 fractional bits) of the scaled Laplace-smoothed
# conditional probability floor((cnt+1)·2^20 / (total+V)) — monotone
# in the true log-prob, so the
# additive NB score is a BIGINT sum and argmax is exact in both engines
# (ties break on lang ascending). Scale shape: the weight table is
# vocabulary-bounded (broadcast, the quality_classifier side-data rule);
# inference is token stream × |langs| (a constant ≤5 fan-out) map-side
# against it, one (doc, lang) aggregation, one per-doc argmax.
# ----------------------------------------------------------------------

_NB_SCALE = 1 << 20


def _nb_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, strlen(lower(text)) - 1),
                               i -> substr(lower(text), CAST(i AS INT), 3)))
           AS term
  FROM documents WHERE text IS NOT NULL AND strlen(text) >= 3
),
train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
test AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
vocab AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM train),
cnts AS (
  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM train GROUP BY lang, term
),
tots AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM cnts GROUP BY lang),
weights AS (
  SELECT lang, term,
         CAST(16 * length(bin(x))
              + ((x - (CAST(1 AS BIGINT) << (length(bin(x)) - 1))) * 16)
                // (CAST(1 AS BIGINT) << (length(bin(x)) - 1)) AS BIGINT) AS w
  FROM (
    SELECT c.lang, c.term, (c.c + 1) * {_NB_SCALE} // (t.tot + v.v) AS x
    FROM cnts c JOIN tots t ON c.lang = t.lang CROSS JOIN vocab v
  )
),
defaults AS (
  SELECT lang,
         CAST(16 * length(bin(x))
              + ((x - (CAST(1 AS BIGINT) << (length(bin(x)) - 1))) * 16)
                // (CAST(1 AS BIGINT) << (length(bin(x)) - 1)) AS BIGINT) AS dw
  FROM (
    SELECT t.lang, GREATEST(1, {_NB_SCALE} // (t.tot + v.v)) AS x
    FROM tots t CROSS JOIN vocab v
  )
),
scored AS (
  SELECT te.doc_id, te.lang AS true_lang, d.lang AS cand_lang,
         CAST(SUM(COALESCE(w.w, d.dw)) AS BIGINT) AS score
  FROM test te
  CROSS JOIN defaults d
  LEFT JOIN weights w ON w.lang = d.lang AND w.term = te.term
  GROUP BY te.doc_id, te.lang, d.lang
),
pred AS (
  SELECT doc_id, true_lang, cand_lang AS pred_lang
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, cand_lang
    ) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY true_lang, pred_lang
"""


@query("nb_langid", _nb_oracle())
def nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # r10 opt (guide §2.5): the char-trigram explode over the whole corpus
    # is the heavy map phase before the first exchange — spread the
    # under-split scan (no-op at real scale).
    docs = fanout_small(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    docs = docs.filter(F.length("text") >= 3)
    # lower(text) hoisted to a projected column (guide §1.2 step 2): inside
    # the transform lambda it was re-evaluated per trigram position — one
    # full-string lowercase per CHARACTER of the corpus.
    toks = docs.select("doc_id", "lang", F.lower("text").alias("lt")).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(lt) - 2), i -> substring(lt, i, 3))"
            )
        ).alias("term"),
    )
    train = toks.filter(F.col("doc_id") % 2 == 0)
    test = toks.filter(F.col("doc_id") % 2 == 1)
    # vocab derives from cnts (countDistinct over its term column is the
    # SAME set as over the raw train stream) so every training consumer
    # hangs off the one (lang, term) exchange, which AQE stage-reuse
    # dedupes at runtime — the raw-stream form planned a second,
    # differently-keyed distinct over the corpus-char explode. Measured
    # at sf0.1: persisting cnts on top of this is slightly NEGATIVE
    # (5.5 s -> 6.0 s median — materialization barrier for stages AQE
    # already reuses), so no shared() here.
    cnts = train.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    vocab = cnts.agg(F.countDistinct("term").alias("v"))
    tots = cnts.groupBy("lang").agg(F.sum("c").cast("long").alias("tot"))
    def _log16(xcol: str) -> F.Column:
        # 1/16-bit piecewise-linear integer log2: 16*bitlen(x) + the top
        # 4 fractional bits — monotone in x, exact BIGINT in both engines
        return F.expr(
            f"CAST(16 * length(bin({xcol}))"
            f" + ((({xcol}) - shiftleft(1L, length(bin({xcol})) - 1)) * 16)"
            f" div shiftleft(1L, length(bin({xcol})) - 1) AS BIGINT)"
        )

    weights = (
        cnts.join(F.broadcast(tots), "lang")
        .crossJoin(F.broadcast(vocab))
        .withColumn("x", F.expr(f"(c + 1) * {_NB_SCALE} div (tot + v)"))
        .select("lang", "term", _log16("x").alias("w"))
    )
    defaults = (
        tots.crossJoin(F.broadcast(vocab))
        .withColumn("x", F.expr(f"greatest(1L, {_NB_SCALE} div (tot + v))"))
        .select("lang", _log16("x").alias("dw"))
    )
    # r10 opt (guide §2.3 aggregate-before-fanout): collapse the test
    # token stream to per-(doc, term) counts BEFORE the |langs|-way
    # candidate fan-out and model join — the NB score is linear in term
    # multiplicity (sum over occurrences == sum of cnt·w over distinct
    # terms, exact integers), so only distinct (doc, term) rows pay the
    # x5 fan-out and the weight lookup.
    tf = test.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        tf.crossJoin(F.broadcast(defaults.select(F.col("lang").alias("cand_lang"), "dw")))
        .join(
            # the model is per-(lang, TERM) — term vocabulary grows with
            # corpus (Heaps' law), so the hint degrades above the cap
            bcast_if_small(
                weights.select(
                    F.col("lang").alias("cand_lang"), "term", "w"
                )
            ),
            ["cand_lang", "term"],
            "left",
        )
        .groupBy(
            "doc_id", F.col("lang").alias("true_lang"), "cand_lang"
        )
        .agg(
            F.sum(F.col("cnt") * F.coalesce(F.col("w"), F.col("dw")))
            .cast("bigint")
            .alias("score")
        )
    )
    w_rank = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand_lang"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand_lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )


# ----------------------------------------------------------------------
# dataset_card — the one-row corpus scorecard a training run records
# next to its data snapshot: document and token counts, source/language
# cardinalities, exact duplicate share (normalized fingerprints), mean
# and exact median document length. Every number is a bounded aggregate
# of one corpus scan (the median via the value-histogram rank selection
# of `operators/stats.group_median`); the combining joins are all 1-row
# broadcasts. The composed "dataset card" is what HuggingFace-style
# dataset documentation expects — here it is a query, so it can never
# drift from the data.
# ----------------------------------------------------------------------


def _dataset_card_oracle() -> str:
    from hadoop_spark.functions.text import fingerprint_sql, ws_token_count_sql
    from hadoop_spark.operators.stats import group_median_sql

    return f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST({ws_token_count_sql("text")} AS BIGINT)) AS BIGINT)
           AS n_tokens,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT {fingerprint_sql("text")}) AS BIGINT) AS n_unique,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents
),
msrc AS (SELECT 1 AS g, n_chars FROM documents),
{group_median_sql("msrc", "g", "n_chars", "median_chars", "med")}
SELECT b.n_docs, b.n_tokens, b.n_sources, b.n_langs,
       CAST(1 AS DOUBLE) - CAST(b.n_unique AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
         AS dup_share,
       CAST(b.sum_chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS mean_chars,
       med.median_chars
FROM base b, med
"""


@query("dataset_card", _dataset_card_oracle())
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_spark.functions.text import fingerprint, ws_token_count
    from hadoop_spark.operators.stats import group_median

    docs = shared(load_table(spark, sf_dir, "documents"))
    base = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(ws_token_count(F.col("text")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct(fingerprint(F.col("text")))
        .cast("bigint")
        .alias("n_unique"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    med = group_median(
        docs.select(F.lit(1).alias("g"), "n_chars"), "g", "n_chars", "median_chars"
    ).select("median_chars")
    # r10 audit: raw IEEE quotients of exact int64 counts — bit-equal.
    dup = (
        F.lit(1).cast("double")
        - F.col("n_unique").cast("double") / F.col("n_docs").cast("double")
    )
    mean_chars = F.col("sum_chars").cast("double") / F.col("n_docs").cast(
        "double"
    )
    return base.join(F.broadcast(med)).select(
        "n_docs",
        "n_tokens",
        "n_sources",
        "n_langs",
        dup.alias("dup_share"),
        mean_chars.alias("mean_chars"),
        "median_chars",
    )


# ----------------------------------------------------------------------
# paragraph_filter_reassemble — the segment-level QUALITY filter stage of
# a C4/RefinedWeb-style curation pipeline: chunk each document into
# 10-token segments, drop low-diversity (repetitive) segments, and
# REASSEMBLE the surviving segments in their original position order into
# the cleaned document. The keep rule is exact-integer (10*distinct >=
# 7*len, i.e. distinct-token ratio >= 0.7 — the repetition heuristic that
# catches "batch batch batch" boilerplate).
#
# Scale shape: the entire operator is ONE map-side expression tree per
# row — tokenize, transform over the segment index sequence, filter,
# array_join — no explode, no shuffle, no UDF. At 100 TB this is a pure
# scan-transform stage that pipelines into whatever consumes it; the
# reference's equivalent is a map-only streaming job
# (STREAMING/streaming/PipeMapper.java lineage).
# ----------------------------------------------------------------------

_PFR_SEG = 10
_PFR_NUM, _PFR_DEN = 7, 10  # keep iff distinct*DEN >= NUM*seg_len

_PFR_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents WHERE text IS NOT NULL
), segs AS (
  SELECT doc_id,
         list_transform(
           range(CAST(ceil(len(w)/{_PFR_SEG}.0) AS BIGINT)),
           i -> w[(i*{_PFR_SEG}+1):(i*{_PFR_SEG}+{_PFR_SEG})]) AS sg
  FROM toks WHERE len(w) > 0
), kept AS (
  SELECT doc_id,
         CAST(len(sg) AS BIGINT) AS n_segments,
         list_filter(sg,
           s -> len(list_distinct(s)) * {_PFR_DEN} >= {_PFR_NUM} * len(s))
           AS ksg
  FROM segs
)
SELECT doc_id, n_segments,
       CAST(len(ksg) AS BIGINT) AS n_kept,
       CAST(len(flatten(ksg)) AS BIGINT) AS kept_tokens,
       -- DuckDB's array_to_string over an EMPTY list yields NULL (Spark's
       -- array_join yields ''); normalize so the all-dropped doc hashes ''
       md5(COALESCE(array_to_string(
             list_transform(ksg, s -> array_to_string(s, ' ')), ' '), ''))
         AS clean_md5
FROM kept
"""


@query("paragraph_filter_reassemble", _PFR_ORACLE)
def paragraph_filter_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-diversity filter + positional reassembly, one map-side pass."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = fanout_small(docs).select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "").alias("w"),
    ).filter(F.size("w") > 0)
    nseg = F.ceil(F.size("w") / F.lit(float(_PFR_SEG))).cast("long")
    sg = F.transform(
        F.sequence(F.lit(0).cast("long"), nseg - 1),
        lambda i: F.slice("w", (i * _PFR_SEG + 1).cast("int"), _PFR_SEG),
    )
    segs = toks.select("doc_id", sg.alias("sg"))
    ksg = F.filter(
        F.col("sg"),
        lambda s: F.size(F.array_distinct(s)) * _PFR_DEN >= F.lit(_PFR_NUM) * F.size(s),
    )
    kept = segs.select(
        "doc_id",
        F.size("sg").cast("bigint").alias("n_segments"),
        ksg.alias("ksg"),
    )
    return kept.select(
        "doc_id",
        "n_segments",
        F.size("ksg").cast("bigint").alias("n_kept"),
        F.size(F.flatten("ksg")).cast("bigint").alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform("ksg", lambda s: F.array_join(s, " ")), " "
            )
        ).alias("clean_md5"),
    )

# ----------------------------------------------------------------------
# doc_quality_ensemble_gate — the final KEEP/DROP gate of a curation
# pipeline with per-reason accounting: a document is dropped when it is
# too short (< 20 tokens), too repetitive (distinct/total < 0.3), or
# language-mismatched (the n-gram `lang_id` prediction ≠ the label); the
# report counts documents BY FIRST FAILING REASON per source — the
# dashboard a curation run publishes next to `dataset_card`. One
# map-side expression pass (token array, diversity ratio in exact
# integers, the shared lang-marker score) + one grouped aggregation over
# the (source × verdict) domain.
# ----------------------------------------------------------------------

from hadoop_spark.functions.text import lang_id as _lang_id  # noqa: E402
from hadoop_spark.functions.text import lang_id_sql as _lang_id_sql  # noqa: E402

_GATE_MIN_TOKENS = 20
_GATE_DIV_NUM, _GATE_DIV_DEN = 3, 10  # drop iff distinct*DEN < NUM*total

_GATE_ORACLE = rf"""
WITH feats AS (
  SELECT source, lang,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w,
         {_lang_id_sql("text")} AS pred
  FROM documents WHERE text IS NOT NULL
), flags AS (
  SELECT source,
         CASE
           WHEN len(w) < {_GATE_MIN_TOKENS} THEN 'too_short'
           WHEN len(list_distinct(w)) * {_GATE_DIV_DEN}
                < {_GATE_DIV_NUM} * len(w) THEN 'repetitive'
           WHEN pred <> lang THEN 'lang_mismatch'
           ELSE 'keep' END AS verdict
  FROM feats
)
SELECT source, verdict, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM flags GROUP BY source, verdict
"""


@query("doc_quality_ensemble_gate", _GATE_ORACLE)
def doc_quality_ensemble_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop curation gate with first-failing-reason accounting."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    feats = docs.select(
        "source",
        "lang",
        w.alias("w"),
        _lang_id(F.col("text")).alias("pred"),
    )
    verdict = (
        F.when(F.size("w") < _GATE_MIN_TOKENS, "too_short")
        .when(
            F.size(F.array_distinct("w")) * _GATE_DIV_DEN
            < _GATE_DIV_NUM * F.size("w"),
            "repetitive",
        )
        .when(F.col("pred") != F.col("lang"), "lang_mismatch")
        .otherwise("keep")
    )
    return feats.select("source", verdict.alias("verdict")).groupBy(
        "source", "verdict"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
