"""Corpus-curation operators — the filtering/mixing stages a
large-scale training-data pipeline runs between raw ingest and
tokenization, beyond what ``corpus_ops``/``text_ops`` already cover:

* benchmark decontamination (n-gram overlap vs an eval set)
* intra-document repetition scoring (spam/generated-text signal)
* stratified source sampling (domain mixing with deterministic keep)
* corpus-trained unigram-LM scoring (CCNet-style quality proxy)

All four are pure DataFrame plans with DuckDB oracles. Scale shapes:
decontamination broadcasts only the (small) benchmark shingle set and
streams the corpus past it; repetition and LM scoring are two
map-side-combinable aggregations; sampling is a pure projection on a
portable hash — no text ever shuffles except the (doc_id, shingle)
pairs that aggregation itself needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.operators.dedup import (
    NORMALIZE_SQL,
    _hash64,
    _HASH64_SQL,
    doc_words,
    _SHINGLE_N,
    normalize_text,
)
from cdc_realtime_pipeline_spark.session import load_table, tracked_persist

# Every ~97th document stands in for a held-out benchmark/eval set
# (deterministic, so both engines and every round agree on it). In a
# real deployment this is the external eval corpus.
_BENCH_MOD = 97
# A training doc is contaminated when it shares at least this many
# distinct 3-gram shingles with any benchmark doc.
_CONTAM_MIN_SHARED = 2


def _all_shingles(docs: DataFrame) -> DataFrame:
    """doc → word ``_SHINGLE_N``-gram shingles, one row per OCCURRENCE
    (duplicates kept — repetition scoring needs multiplicity;
    decontamination dedups downstream). Same narrow transform/slice plan as
    ``dedup._word_shingles`` minus the distinct."""
    # fast path: a caller passing the memoized tokenized corpus
    # (``doc_words``) skips the per-call normalize+split re-derivation
    wdf = (
        docs.select("doc_id", "words")
        if "words" in docs.columns
        else docs.select(
            "doc_id", F.split(normalize_text(F.col("text")), " ").alias("words")
        )
    )
    idx = F.sequence(F.lit(0), F.greatest(F.size("words") - _SHINGLE_N, F.lit(0)))
    shingle = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice("words", i + 1, _SHINGLE_N))
    )
    return (
        wdf.withColumn("shingle", F.explode(shingle))
        .filter(F.length("shingle") > 0)
        .select("doc_id", "shingle")
    )


# occurrence-preserving shingle CTE (mirrors _all_shingles; the
# dedup module's _SHINGLES_SQL has DISTINCT baked in)
_ALL_SHINGLES_SQL = """
shingled AS (
  SELECT doc_id, shingle
  FROM (
    SELECT doc_id,
           list_aggregate(words[i : i + 2], 'string_agg', ' ') AS shingle
    FROM (SELECT doc_id,
                 string_split({norm}, ' ') AS words
          FROM documents),
         LATERAL (SELECT unnest(range(1, greatest(len(words) - 2, 1) + 1)) AS i)
  )
  WHERE length(shingle) > 0
)
"""


def decontaminate_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose text
    overlaps a held-out eval set — the step that keeps test questions
    out of the training corpus.

    Every doc with ``doc_id % 97 == 0`` plays the benchmark; a
    training doc is flagged when it shares ≥ 2 distinct 3-gram
    shingles with any benchmark doc. Output: flagged doc_id, how many
    distinct shingles leaked, how many benchmark docs it collides
    with.

    Scale shape: the benchmark relation is small by nature (an eval
    set, not a corpus), so its shingle set is broadcast — the 100 TB
    training side streams past it in one narrow pass + one aggregation
    on (doc_id); the corpus never self-joins and never shuffles text.
    """
    docs = doc_words(spark, sf_dir)
    # shingle each side from a pre-filtered scan: the bench side
    # shingles only its own (tiny) docs, and the train side needs NO
    # distinct — the final countDistinct dedups, so the corpus never
    # pays a full (doc_id, shingle) shuffle before the bench join
    # prunes it down to the (rare) overlapping rows
    bench = (
        _all_shingles(docs.filter(F.col("doc_id") % _BENCH_MOD == 0))
        .distinct()
        .select(F.col("doc_id").alias("bench_doc"), "shingle")
    )
    train = _all_shingles(docs.filter(F.col("doc_id") % _BENCH_MOD != 0))
    hits = train.join(F.broadcast(bench), "shingle")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared_shingles") >= _CONTAM_MIN_SHARED)
        .orderBy("doc_id")
    )


DECONTAMINATE_VS_BENCHMARK_SQL = f"""
WITH {_ALL_SHINGLES_SQL.format(norm=NORMALIZE_SQL.format(col='text')).strip()},
sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
bench AS (
  SELECT doc_id AS bench_doc, shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
),
train AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} != 0)
SELECT t.doc_id,
       count(DISTINCT t.shingle) AS n_shared_shingles,
       count(DISTINCT b.bench_doc) AS n_bench_docs
FROM train t JOIN bench b ON t.shingle = b.shingle
GROUP BY t.doc_id
HAVING count(DISTINCT t.shingle) >= {_CONTAM_MIN_SHARED}
ORDER BY t.doc_id
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition profile — the standard spam /
    boilerplate / degenerate-generation signal: what fraction of a
    doc's 3-grams are repeats, and how dominant is its single most
    repeated 3-gram.

    Two aggregations, both map-side combinable: (doc, shingle) counts,
    then per-doc totals. ``dup_ngram_frac`` = 1 − distinct/total;
    ``top_ngram_frac`` = max-count/total.
    """
    sh = _all_shingles(doc_words(spark, sf_dir))
    per = sh.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_distinct",
            F.round(1 - F.col("n_distinct") / F.col("n_ngrams") + 1e-9, 4).alias(
                "dup_ngram_frac"
            ),
            F.round(F.col("top_count") / F.col("n_ngrams") + 1e-9, 4).alias(
                "top_ngram_frac"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = f"""
WITH {_ALL_SHINGLES_SQL.format(norm=NORMALIZE_SQL.format(col='text')).strip()},
per AS (
  SELECT doc_id, shingle, count(*) AS c FROM shingled GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_ngrams,
       count(*) AS n_distinct,
       round(1 - count(*) / CAST(sum(c) AS DOUBLE) + 1e-9, 4) AS dup_ngram_frac,
       round(max(c) / CAST(sum(c) AS DOUBLE) + 1e-9, 4) AS top_ngram_frac
FROM per GROUP BY doc_id ORDER BY doc_id
"""


# Domain-mixing weights by source tier: a deterministic portable hash
# of the source name picks one of four keep rates. (In production the
# weight table is curated per domain; the MECHANISM — per-source rate,
# per-doc deterministic keep — is what scales.)
_SAMPLE_RATES = [0.25, 0.5, 0.75, 1.0]


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified source sampling (domain mixing): each source gets a
    target keep-rate; each doc is kept iff a portable hash of its id
    falls under the rate — a pure projection, so re-runs, cluster
    resizes, and incremental arrivals keep EXACTLY the same documents
    (no RNG state, no sort). Returns the per-source audit the curation
    pipeline reports: target vs achieved rate.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    tier = F.pmod(_hash64(F.col("source"), 17), F.lit(4))
    rate = (
        F.when(tier == 0, _SAMPLE_RATES[0])
        .when(tier == 1, _SAMPLE_RATES[1])
        .when(tier == 2, _SAMPLE_RATES[2])
        .otherwise(_SAMPLE_RATES[3])
    )
    keep = F.pmod(_hash64(F.col("doc_id").cast("string"), 19), F.lit(10000)) < (
        rate * 10000
    )
    d = docs.select("doc_id", "source", rate.alias("target_rate"), keep.alias("keep"))
    return (
        d.groupBy("source", "target_rate")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.min(F.when(F.col("keep"), F.col("doc_id"))).alias("min_kept_doc"),
        )
        .withColumn(
            "achieved_rate", F.round(F.col("n_kept") / F.col("n_docs") + 1e-9, 4)
        )
        .orderBy("source")
    )


_TIER_SQL = f"(({_HASH64_SQL.format(salt=17, col='source')}) % 4 + 4) % 4"
_KEEP_SQL = (
    f"(({_HASH64_SQL.format(salt=19, col='CAST(doc_id AS VARCHAR)')}) % 10000 + 10000) % 10000"
)

CORPUS_STRATIFIED_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(CASE {_TIER_SQL}
              WHEN 0 THEN {_SAMPLE_RATES[0]} WHEN 1 THEN {_SAMPLE_RATES[1]}
              WHEN 2 THEN {_SAMPLE_RATES[2]} ELSE {_SAMPLE_RATES[3]} END
              AS DOUBLE) AS target_rate,
         ({_KEEP_SQL}) < CASE {_TIER_SQL}
              WHEN 0 THEN {_SAMPLE_RATES[0]} WHEN 1 THEN {_SAMPLE_RATES[1]}
              WHEN 2 THEN {_SAMPLE_RATES[2]} ELSE {_SAMPLE_RATES[3]} END * 10000 AS keep
  FROM documents
)
SELECT source, target_rate,
       count(*) AS n_docs,
       CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
       min(CASE WHEN keep THEN doc_id END) AS min_kept_doc,
       round(count(CASE WHEN keep THEN 1 END) / CAST(count(*) AS DOUBLE) + 1e-9, 4)
         AS achieved_rate
FROM d GROUP BY source, target_rate ORDER BY source
"""


def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score (the cheap end of the
    CCNet perplexity-filter family): p(w) = corpus frequency, each doc
    scored by its mean token negative log-probability. Gibberish and
    rare-vocabulary docs score high, templated/common text scores low.

    Two shuffles total: token counts (map-side combinable) and the
    word-keyed join of docs' tokens against the vocabulary — the LM
    "table" stays distributed (no driver collect; at 100 TB the vocab
    is itself large). Per-token logs are rounded to 8 decimals before
    averaging so the float sum is association-insensitive across
    engines.
    """
    docs = doc_words(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode("words").alias("word")
    ).filter(F.length("word") > 0)
    totals = words.agg(F.count("*").alias("n_total"))
    vocab = words.groupBy("word").agg(F.count("*").alias("c"))
    scored = (
        words.join(vocab, "word")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.round(-F.log(F.col("c") / F.col("n_total")), 8).alias("neg_logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("neg_logp") + 1e-9, 4).alias("avg_neg_logp"),
        )
        .orderBy("doc_id")
    )


TEXT_UNIGRAM_LM_SCORE_SQL = f"""
WITH words AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(string_split({NORMALIZE_SQL.format(col='text')}, ' ')) AS word
        FROM documents)
  WHERE length(word) > 0
),
vocab AS (SELECT word, count(*) AS c FROM words GROUP BY word),
totals AS (SELECT count(*) AS n_total FROM words),
scored AS (
  SELECT doc_id, round(-ln(c / CAST(n_total AS DOUBLE)), 8) AS neg_logp
  FROM words JOIN vocab USING (word) CROSS JOIN totals
)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(neg_logp) + 1e-9, 4) AS avg_neg_logp
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data", 2020): per language, split the corpus into head / middle /
    tail terciles by LM score (here the unigram-LM proxy of
    `text_unigram_lm_score`) — the standard curation move that keeps
    the head, samples the middle, and drops the tail. Emits per
    (lang, bucket): population and score stats.

    ``ntile(3)`` runs per-language ordered by (score, doc_id) — the
    doc_id tiebreak makes tercile boundaries deterministic
    cross-engine even when scores tie. One extra shuffle over the LM
    scorer (per-lang window on a doc-count-sized relation).
    """
    scores = text_unigram_lm_score(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("avg_neg_logp", "doc_id")
    bucketed = (
        scores.join(langs, "doc_id")
        .withColumn("bucket", F.ntile(3).over(w))
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("avg_neg_logp") + 1e-9, 4).alias("mean_score"),
            F.min("avg_neg_logp").alias("min_score"),
            F.max("avg_neg_logp").alias("max_score"),
        )
        .orderBy("lang", "bucket")
    )


CORPUS_PERPLEXITY_BUCKETS_SQL = f"""
WITH lm AS ({TEXT_UNIGRAM_LM_SCORE_SQL}),
bucketed AS (
  SELECT d.lang, lm.avg_neg_logp,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY lm.avg_neg_logp, lm.doc_id) AS bucket
  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
)
SELECT lang, bucket, count(*) AS n_docs,
       round(avg(avg_neg_logp) + 1e-9, 4) AS mean_score,
       min(avg_neg_logp) AS min_score,
       max(avg_neg_logp) AS max_score
FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
"""


def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty per document: the fraction of a doc's distinct
    3-grams whose FIRST appearance (by doc_id, the ingestion order) is
    in that doc — the corpus-diversity signal curation uses to spot
    late-arriving redundancy (novelty → 0 as a source starts repeating
    what the corpus already holds).

    Two aggregations: min-owner per shingle (map-side combinable),
    then per-doc ratio via one equi-join back on the shingle. No text
    shuffles — only (shingle-hash, doc_id) pairs move.
    """
    # shingles stay as strings (not 64-bit hashes): min-owner semantics
    # must match the string-keyed oracle exactly, and a hash collision
    # here would be output-visible (it merges two shingles' owners)
    sh = _all_shingles(doc_words(spark, sf_dir)).distinct()
    first_owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_owner, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_ngrams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_distinct_ngrams") + 1e-9, 4),
        )
        .orderBy("doc_id")
    )


DOCS_NGRAM_NOVELTY_SQL = f"""
WITH {_ALL_SHINGLES_SQL.format(norm=NORMALIZE_SQL.format(col='text')).strip()},
sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
first_owner AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       count(*) AS n_distinct_ngrams,
       CAST(count(CASE WHEN f.first_doc = s.doc_id THEN 1 END) AS BIGINT) AS n_novel,
       round(count(CASE WHEN f.first_doc = s.doc_id THEN 1 END)
             / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS novelty
FROM sh s JOIN first_owner f ON s.shingle = f.shingle
GROUP BY s.doc_id ORDER BY s.doc_id
"""


# PII patterns, verified byte-identical between Java regex (Spark) and
# RE2 (DuckDB) on the shapes below. ORDER MATTERS and is fixed in both
# engines: emails first (their local parts may contain digits), then
# IPs (a dotted quad like 192.168.255.254 would otherwise match the
# phone pattern), then phones.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
_PII_PHONE = r"\+?[0-9][0-9()\s.-]{7,}[0-9]"


def _with_planted_pii(docs: DataFrame) -> Column:
    """The random fixture contains no natural PII, so plant a
    deterministic contact line on every 11th doc (same expression in
    the oracle) — otherwise the scrub is vacuously tested."""
    pii = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), pii)).otherwise(
        F.col("text")
    )


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass — emails, IPv4 addresses, phone-shaped digit
    runs replaced by typed placeholder tokens; per-doc counts plus an
    md5 of the scrubbed text so the gate verifies the REDACTED BYTES,
    not just the counts. Pure per-row regex projection: narrow,
    codegen'd, scales with the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = _with_planted_pii(docs)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), F.lit(_PII_IP)).alias(
            "n_ips"
        ),
        F.regexp_count(
            F.regexp_replace(
                F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
            ),
            F.lit(_PII_PHONE),
        ).alias("n_phones"),
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


_PII_T_SQL = (
    "CASE WHEN doc_id % 11 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE text END"
)

TEXT_PII_SCRUB_SQL = rf"""
WITH t AS (SELECT doc_id, {_PII_T_SQL} AS t FROM documents),
s1 AS (SELECT doc_id, regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1,
              len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails FROM t),
s2 AS (SELECT doc_id, n_emails,
              regexp_replace(t1, '{_PII_IP}', '<IP>', 'g') AS t2,
              len(regexp_extract_all(t1, '{_PII_IP}')) AS n_ips FROM s1),
s3 AS (SELECT doc_id, n_emails, n_ips,
              regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3,
              len(regexp_extract_all(t2, '{_PII_PHONE}')) AS n_phones FROM s2)
SELECT doc_id, n_emails, n_ips, n_phones,
       length(t3) AS scrubbed_len, md5(t3) AS scrubbed_md5
FROM s3 ORDER BY doc_id
"""


def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL — every stage of the cleaning pipeline
    composed in declared order, reporting how many documents survive
    each cumulative stage (the audit table every large-scale corpus
    build publishes):

        total → declared-lang keep → length window → low repetition
        → decontaminated (incl. dropping the benchmark docs
        themselves) → stratified source sample → exact-dedup survivor

    One pass computes all stage flags per doc (repetition and
    contamination arrive via their operators' aggregations); the
    survivor stage ranks content hashes WITHIN the prior stage's
    survivors (dedup after filtering, the canonical order — a dropped
    doc must not shadow a kept duplicate). A single aggregate emits
    the funnel as one row, unpivoted via ``stack`` — the corpus is
    never scanned once per stage.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    rep = text_repetition(spark, sf_dir).select("doc_id", "dup_ngram_frac")
    contam = decontaminate_vs_benchmark(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("_contaminated")
    )
    tier = F.pmod(_hash64(F.col("source"), 17), F.lit(4))
    rate = (
        F.when(tier == 0, _SAMPLE_RATES[0])
        .when(tier == 1, _SAMPLE_RATES[1])
        .when(tier == 2, _SAMPLE_RATES[2])
        .otherwise(_SAMPLE_RATES[3])
    )
    keep = F.pmod(_hash64(F.col("doc_id").cast("string"), 19), F.lit(10000)) < (
        rate * 10000
    )
    d = (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            "source",
            F.md5(normalize_text(F.col("text"))).alias("content_hash"),
        )
        .join(rep, "doc_id", "left")
        # no broadcast hint: the contaminated set is corpus-derived —
        # normally tiny, but a pathological corpus could make it large;
        # the equi-join lets AQE broadcast only when actually small
        .join(contam, "doc_id", "left")
    )
    f1 = F.col("lang").isin("en", "de", "es")
    f2 = f1 & F.col("n_chars").between(100, 10000)
    f3 = f2 & (F.coalesce(F.col("dup_ngram_frac"), F.lit(0.0)) <= 0.5)
    f4 = f3 & F.coalesce(~F.col("_contaminated"), F.lit(True)) & (
        F.col("doc_id") % _BENCH_MOD != 0
    )
    f5 = f4 & keep
    flagged = d.select(
        "doc_id",
        "content_hash",
        f1.alias("f1"),
        f2.alias("f2"),
        f3.alias("f3"),
        f4.alias("f4"),
        f5.alias("f5"),
    )
    wmin = Window.partitionBy("content_hash")
    survivor = F.col("f5") & (
        F.col("doc_id") == F.min(F.when(F.col("f5"), F.col("doc_id"))).over(wmin)
    )
    flagged = flagged.withColumn("f6", survivor)
    one = flagged.agg(
        F.count("*").alias("n0"),
        *[F.sum(F.col(f"f{i}").cast("long")).alias(f"n{i}") for i in range(1, 7)],
    )
    return one.selectExpr(
        "stack(7, "
        "0, 'total', n0, "
        "1, 'lang_keep', n1, "
        "2, 'length_ok', n2, "
        "3, 'low_repetition', n3, "
        "4, 'decontaminated', n4, "
        "5, 'sampled', n5, "
        "6, 'dedup_survivor', n6"
        ") AS (stage_idx, stage, n_docs)"
    ).orderBy("stage_idx")


CORPUS_CURATION_FUNNEL_SQL = f"""
WITH {_ALL_SHINGLES_SQL.format(norm=NORMALIZE_SQL.format(col='text')).strip()},
rep AS (
  SELECT doc_id,
         round(1 - count(*) / CAST(sum(c) AS DOUBLE) + 1e-9, 4) AS dup_ngram_frac
  FROM (SELECT doc_id, shingle, count(*) AS c FROM shingled GROUP BY 1, 2)
  GROUP BY doc_id
),
sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
bench AS (
  SELECT doc_id AS bench_doc, shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
),
contam AS (
  SELECT t.doc_id FROM (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} != 0) t
  JOIN bench b ON t.shingle = b.shingle
  GROUP BY t.doc_id
  HAVING count(DISTINCT t.shingle) >= {_CONTAM_MIN_SHARED}
),
d AS (
  SELECT doc_id, lang, n_chars, source,
         md5({NORMALIZE_SQL.format(col='text')}) AS content_hash,
         coalesce(r.dup_ngram_frac, 0.0) AS dup_frac,
         (doc_id IN (SELECT doc_id FROM contam)) AS contaminated,
         ({_KEEP_SQL}) < CASE {_TIER_SQL}
              WHEN 0 THEN {_SAMPLE_RATES[0]} WHEN 1 THEN {_SAMPLE_RATES[1]}
              WHEN 2 THEN {_SAMPLE_RATES[2]} ELSE {_SAMPLE_RATES[3]} END * 10000 AS keep
  FROM documents LEFT JOIN rep r USING (doc_id)
),
flags AS (
  SELECT doc_id, content_hash,
         (lang IN ('en', 'de', 'es')) AS f1,
         (lang IN ('en', 'de', 'es') AND n_chars BETWEEN 100 AND 10000) AS f2,
         (lang IN ('en', 'de', 'es') AND n_chars BETWEEN 100 AND 10000
          AND dup_frac <= 0.5) AS f3,
         (lang IN ('en', 'de', 'es') AND n_chars BETWEEN 100 AND 10000
          AND dup_frac <= 0.5 AND NOT contaminated
          AND doc_id % {_BENCH_MOD} != 0) AS f4,
         (lang IN ('en', 'de', 'es') AND n_chars BETWEEN 100 AND 10000
          AND dup_frac <= 0.5 AND NOT contaminated
          AND doc_id % {_BENCH_MOD} != 0 AND keep) AS f5
  FROM d
),
withmin AS (
  SELECT *,
         min(CASE WHEN f5 THEN doc_id END) OVER (PARTITION BY content_hash)
           AS min_kept
  FROM flags
),
agg AS (
  SELECT count(*) AS n0,
         CAST(count(CASE WHEN f1 THEN 1 END) AS BIGINT) AS n1,
         CAST(count(CASE WHEN f2 THEN 1 END) AS BIGINT) AS n2,
         CAST(count(CASE WHEN f3 THEN 1 END) AS BIGINT) AS n3,
         CAST(count(CASE WHEN f4 THEN 1 END) AS BIGINT) AS n4,
         CAST(count(CASE WHEN f5 THEN 1 END) AS BIGINT) AS n5,
         CAST(count(CASE WHEN f5 AND doc_id = min_kept THEN 1 END) AS BIGINT) AS n6
  FROM withmin
)
SELECT stage_idx, stage, n_docs FROM agg,
LATERAL (VALUES (0, 'total', n0), (1, 'lang_keep', n1), (2, 'length_ok', n2),
                (3, 'low_repetition', n3), (4, 'decontaminated', n4),
                (5, 'sampled', n5), (6, 'dedup_survivor', n6))
        AS v(stage_idx, stage, n_docs)
ORDER BY stage_idx
"""


_MIX_BUDGET_TOKENS = 2_000_000
_CHUNK_TOKENS = 16
_CHUNK_STRIDE = 12


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the UnifiedQA/Pile recipe,
    α = 0.5): per-source sampling weight ∝ tokens^α, normalized, plus
    the epochs-over-each-source a fixed token budget implies — the
    planning table a curriculum/mixture stage emits before writing
    dataloader manifests. Upweights small high-value sources (α < 1
    flattens the natural distribution) without ever starving big ones.

    Cross-engine float discipline: the per-source ``sqrt`` is one
    identically-written double expression (IEEE sqrt is correctly
    rounded, hence deterministic), 6dp-rounded, then summed as exact
    DECIMAL — the normalizing total has NO float accumulation order to
    diverge. The weight division and epoch expression consume only
    already-identical operands.

    Scale: one hash-agg over the corpus (map-side combinable token
    sums), then arithmetic on a |sources|-row table.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("n_tokens"),
    )
    s = F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast("decimal(38,6)")
    w_all = Window.partitionBy()
    weighted = per_src.withColumn("_s", s).withColumn(
        "_tot", F.sum("_s").over(w_all)
    )
    weight = F.round(
        F.col("_s").cast("double") / F.col("_tot").cast("double") + 1e-9, 6
    )
    out = weighted.withColumn("mix_weight", weight)
    epochs = F.round(
        F.lit(float(_MIX_BUDGET_TOKENS)) * F.col("mix_weight") / F.col("n_tokens")
        + 1e-9,
        6,
    )
    return out.select(
        "source", "n_docs", "n_tokens", "mix_weight", epochs.alias("epochs_at_budget")
    ).orderBy("source")


CORPUS_MIXTURE_WEIGHTS_SQL = rf"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT *,
         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(38,6)) AS s
  FROM per_src
),
tot AS (
  SELECT *, sum(s) OVER () AS t FROM weighted
),
withw AS (
  SELECT source, n_docs, n_tokens,
         round(CAST(s AS DOUBLE) / CAST(t AS DOUBLE) + 1e-9, 6) AS mix_weight
  FROM tot
)
SELECT source, n_docs, n_tokens, mix_weight,
       round({float(_MIX_BUDGET_TOKENS)} * mix_weight / n_tokens + 1e-9, 6)
         AS epochs_at_budget
FROM withw ORDER BY source
"""


def docs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    token windows (size {_CHUNK_TOKENS}, stride {_CHUNK_STRIDE} — the
    constants are fixture-sized; production uses 2048/1536 with the
    identical plan) and emit one row per chunk with a portable content
    hash — the step that turns a document corpus into fixed-length
    training sequences while preserving cross-boundary context.

    Chunk count is pure integer arithmetic (1 + ⌈max(n−C,0)/stride⌉),
    the window expands map-side via sequence→explode (no shuffle at
    all — the plan is scan → project → generate), and the chunk text
    itself collapses to an md5 before leaving the operator, so the
    wide string never shuffles.
    """
    c, st = _CHUNK_TOKENS, _CHUNK_STRIDE
    words = (
        doc_words(spark, sf_dir)
        .select("doc_id", "words")
        .withColumn(
            "n_chunks",
            (
                1
                + F.floor(
                    (F.greatest(F.size("words") - c, F.lit(0)) + (st - 1)) / float(st)
                )
            ).cast("int"),
        )
    )
    chunks = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        "words",
    )
    chunk_words = F.slice("words", F.col("chunk_idx") * st + 1, c)
    # NO orderBy: the output is corpus-sized (one row per chunk) and a
    # display sort would add the plan's only exchange; the driver's
    # value hash is order-insensitive
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk_words).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk_words)).alias("chunk_md5"),
    )


DOCS_CHUNKED_SQL = rf"""
WITH w AS (
  SELECT doc_id,
         string_split({NORMALIZE_SQL.format(col='text')}, ' ') AS words
  FROM documents
),
sized AS (
  SELECT doc_id, words,
         CAST(1 + floor((greatest(len(words) - {_CHUNK_TOKENS}, 0)
                         + {_CHUNK_STRIDE - 1}) / {float(_CHUNK_STRIDE)}) AS INT)
           AS n_chunks
  FROM w
),
chunks AS (
  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_idx, words FROM sized
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       len(list_slice(words, chunk_idx * {_CHUNK_STRIDE} + 1,
                      chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_TOKENS})) AS n_tokens,
       md5(array_to_string(list_slice(words, chunk_idx * {_CHUNK_STRIDE} + 1,
                                      chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}),
                           ' ')) AS chunk_md5
FROM chunks
"""


def corpus_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering (the FineWeb-style alternative to a hard
    threshold): each doc survives with probability proportional to its
    quality score — keep-rate = clamp(quality, 0.1, 1.0) — so
    low-quality text is down-weighted without a cliff, and the decision
    is a DETERMINISTIC pure function of (doc_id, score): portable hash
    < scaled rate, no RNG state, stable under re-runs/resizes/
    increments (the ``corpus_stratified_sample`` contract, but with a
    per-ROW rate computed from the oracle-gated ``text_quality``
    expression instead of a per-source constant).

    Cross-engine: quality is already 4dp-rounded identically on both
    engines, so the integer keep threshold ``floor(rate·10⁴ + 0.5)``
    is exact; per-bucket target rates sum as exact DECIMAL.

    Output: per quality-decile audit (docs, kept, achieved vs target
    rate) — the curve a curation reviewer reads to confirm the
    sampler's slope.
    """
    from cdc_realtime_pipeline_spark.operators.text_ops import _quality_scores

    q = _quality_scores(spark, sf_dir)  # session memo (round 13, guide §5)
    rate = F.least(F.greatest(F.col("quality"), F.lit(0.1)), F.lit(1.0))
    h = F.pmod(_hash64(F.col("doc_id").cast("string"), 41), F.lit(10000))
    kept = (h < F.floor(rate * 10000 + F.lit(0.5))).cast("long")
    bucket = F.least(F.floor(F.col("quality") * 10).cast("int"), F.lit(9))
    agg = (
        q.select(bucket.alias("q_decile"), rate.alias("rate"), kept.alias("kept"))
        .groupBy("q_decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.col("rate").cast("decimal(18,4)")).alias("_rate_sum"),
        )
    )
    return agg.select(
        "q_decile",
        "n_docs",
        "n_kept",
        F.round(F.col("n_kept") / F.col("n_docs") + 1e-9, 4).alias("achieved_rate"),
        F.round(
            F.col("_rate_sum").cast("double") / F.col("n_docs") + 1e-9, 4
        ).alias("target_rate"),
    ).orderBy("q_decile")


from cdc_realtime_pipeline_spark.operators.text_ops import (  # noqa: E402
    TEXT_QUALITY_SQL as _TQ_SQL,
)

CORPUS_QUALITY_WEIGHTED_SAMPLE_SQL = f"""
WITH q AS ({_TQ_SQL}),
scored AS (
  SELECT doc_id, quality,
         least(greatest(quality, 0.1), 1.0) AS rate,
         least(CAST(floor(quality * 10) AS INT), 9) AS q_decile,
         (({_HASH64_SQL.format(salt=41, col="CAST(doc_id AS VARCHAR)")}) % 10000
          + 10000) % 10000 AS h
  FROM q
),
flagged AS (
  SELECT q_decile, rate,
         CASE WHEN h < floor(rate * 10000 + 0.5) THEN 1 ELSE 0 END AS kept
  FROM scored
),
agg AS (
  SELECT q_decile, count(*) AS n_docs,
         CAST(sum(kept) AS BIGINT) AS n_kept,
         sum(CAST(rate AS DECIMAL(18,4))) AS rate_sum
  FROM flagged GROUP BY 1
)
SELECT q_decile, n_docs, n_kept,
       round(n_kept / CAST(n_docs AS DOUBLE) + 1e-9, 4) AS achieved_rate,
       round(CAST(rate_sum AS DOUBLE) / n_docs + 1e-9, 4) AS target_rate
FROM agg ORDER BY q_decile
"""


def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (sub-document) dedup audit: how much of each
    source's chunked training data is duplicated ANYWHERE in the
    corpus. Document-level dedup misses boilerplate shared across
    otherwise-distinct pages (headers, licenses, templates); chunk-
    granularity is where that mass shows up, and per-source dup ratio
    is the number that decides which source gets a boilerplate pass.

    Same chunking as ``docs_chunked`` (size {c}, stride {s}) with
    ``source`` carried through the map-side generate, so the plan is
    scan → project → explode → ONE shuffle on chunk_md5 (window count
    of each chunk's global multiplicity — 16-byte keys, never the
    chunk text) → re-agg by source (bounded keys). At 100 TB the md5
    shuffle is the same volume exact dedup already pays; nothing else
    moves.
    """
    c, st = _CHUNK_TOKENS, _CHUNK_STRIDE
    words = doc_words(spark, sf_dir).select("source", "words")
    sized = words.withColumn(
        "n_chunks",
        (
            1
            + F.floor(
                (F.greatest(F.size("words") - c, F.lit(0)) + (st - 1)) / float(st)
            )
        ).cast("int"),
    )
    chunk_words = F.slice(
        "words", F.col("chunk_idx") * st + 1, c
    )
    chunks = sized.select(
        "source",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        "words",
    ).select("source", F.md5(F.concat_ws(" ", chunk_words)).alias("chunk_md5"))
    mult = chunks.withColumn(
        "multiplicity", F.count("*").over(Window.partitionBy("chunk_md5"))
    )
    return (
        mult.groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("multiplicity") > 1).cast("long")).alias("n_dup_chunks"),
            F.max("multiplicity").alias("max_multiplicity"),
            F.round(
                F.sum((F.col("multiplicity") > 1).cast("long")) / F.count("*")
                + 1e-9,
                4,
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


chunk_dedup_stats.__doc__ = chunk_dedup_stats.__doc__.format(
    c=_CHUNK_TOKENS, s=_CHUNK_STRIDE
)


CHUNK_DEDUP_STATS_SQL = rf"""
WITH w AS (
  SELECT source,
         string_split({{norm}}, ' ') AS words
  FROM documents
),
sized AS (
  SELECT source, words,
         CAST(1 + floor((greatest(len(words) - {_CHUNK_TOKENS}, 0)
                         + {_CHUNK_STRIDE - 1}) / {float(_CHUNK_STRIDE)}) AS INT)
           AS n_chunks
  FROM w
),
chunks AS (
  SELECT source,
         md5(array_to_string(
             list_slice(words, chunk_idx * {_CHUNK_STRIDE} + 1,
                        chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}), ' '))
           AS chunk_md5
  FROM (SELECT source, unnest(range(0, n_chunks)) AS chunk_idx, words FROM sized)
),
mult AS (
  SELECT source, count(*) OVER (PARTITION BY chunk_md5) AS multiplicity
  FROM chunks
)
SELECT source, count(*) AS n_chunks,
       CAST(sum(CASE WHEN multiplicity > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(max(multiplicity) AS BIGINT) AS max_multiplicity,
       round(sum(CASE WHEN multiplicity > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS dup_ratio
FROM mult GROUP BY source ORDER BY source
""".replace("{norm}", NORMALIZE_SQL.format(col="text"))


_RESERVOIR_K = 5


def corpus_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget weighted sampling: exactly K={k} docs per source,
    drawn with probability proportional to quality — the
    Efraimidis–Spirakis (A-ES) exponential-key scheme, the standard
    DISTRIBUTED weighted reservoir: each doc gets key = u^(1/w)
    (u uniform from the portable hash, w = quality), and the K largest
    keys per stratum ARE the weighted sample. Complements
    `corpus_quality_weighted_sample` (per-row Bernoulli, variable
    output size) with the exact-budget form a sampling contract often
    requires.

    Determinism: u is the portable md5-derived integer (+0.5)/10⁴ —
    no RNG state, stable under re-runs/resizes; keys are rounded to
    6dp (+1e-9) BEFORE ranking, ties broken by doc_id, so the
    selection is a pure function of (doc_id, quality) on both engines
    (pow agrees across libms to ~1 ulp, absorbed by the round).

    Scale posture: one hash projection + a per-source rank window —
    Catalyst's WindowGroupLimit keeps top-K heaps per partition
    map-side before the single stratum-key shuffle, which is exactly
    the classical distributed-reservoir merge. w is floored at 0.05 so
    1/w stays bounded.
    """
    from cdc_realtime_pipeline_spark.operators.text_ops import _quality_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    q = _quality_scores(spark, sf_dir)  # session memo (round 13, guide §5)
    u = (F.pmod(_hash64(F.col("doc_id").cast("string"), 53), F.lit(10000)) + 0.5) / 10000
    w = F.greatest(F.col("quality"), F.lit(0.05))
    scored = docs.join(q, "doc_id").select(
        "source",
        "doc_id",
        "quality",
        F.round(F.pow(u, 1.0 / w) + 1e-9, 6).alias("res_key"),
    )
    win = Window.partitionBy("source").orderBy(F.desc("res_key"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .select("source", "doc_id", "quality", "res_key", "rk")
        .orderBy("source", "rk")
    )


corpus_weighted_reservoir.__doc__ = corpus_weighted_reservoir.__doc__.format(
    k=_RESERVOIR_K
)

CORPUS_WEIGHTED_RESERVOIR_SQL = f"""
WITH q AS ({{tq}}),
scored AS (
  SELECT d.source, d.doc_id, q.quality,
         round(power(
           ((({_HASH64_SQL.format(salt=53, col="CAST(d.doc_id AS VARCHAR)")}) % 10000
             + 10000) % 10000 + 0.5) / 10000,
           1.0 / greatest(q.quality, 0.05)) + 1e-9, 6) AS res_key
  FROM documents d JOIN q ON d.doc_id = q.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY res_key DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT source, doc_id, quality, res_key, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_RESERVOIR_K} ORDER BY source, rk
""".format(tq=_TQ_SQL)


_DSIR_BUCKETS = 256

# The target-domain reference sample: a small skewed token multiset
# standing in for DSIR's held-out target corpus (Wikipedia/books in
# the paper). It must be EXTERNAL to the raw corpus: the fixtures'
# languages all draw from one near-uniform token pool, so any
# within-corpus slice (lang, source, length) has λ_target ≈ λ_raw and
# the importance weight degenerates to smoothing noise — planting the
# reference follows the _with_planted_pii / pattern-literal precedent.
_DSIR_TARGET_TOKENS = (
    ["vector"] * 6 + ["data"] * 5 + ["query"] * 4 + ["stream"] * 3
    + ["window"] * 2 + ["group"]
)


def _dsir_bucket_py(token: str) -> int:
    """Python twin of ``_hash64(col, salt=777) % _DSIR_BUCKETS`` —
    byte-identical md5 slice so the literal target model lands in the
    same buckets both engines compute for corpus words."""
    import hashlib

    return int(hashlib.md5(f"s777:{token}".encode()).hexdigest()[:15], 16) % _DSIR_BUCKETS


def _dsir_target_counts() -> list[tuple[int, int]]:
    counts: dict[int, int] = {}
    for t in _DSIR_TARGET_TOKENS:
        b = _dsir_bucket_py(t)
        counts[b] = counts.get(b, 0) + 1
    return sorted(counts.items())


def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed n-gram importance scoring (Xie et al., "Data
    Selection for Language Models via Importance Resampling", 2023):
    score every raw document by how target-like its hashed unigram
    feature distribution is. The target model comes from a small
    reference token sample (see ``_DSIR_TARGET_TOKENS``) — exactly
    DSIR's asymmetry: the target fits in a broadcast literal, the raw
    model is a corpus-scale aggregate. Resampling then keeps the
    high-weight head — the sampling step itself is the already-covered
    weighted-reservoir / quality-weighted-sample family.

    Per word: bucket = portable 60-bit md5 hash mod 256 (the Python
    twin generates the identical buckets for the target literals).
    Add-one-smoothed bucket unigram models over integer counts (all
    arithmetic stays integral until ONE division, so both engines see
    identical doubles): λ_t[b] = (tc+1)/(t_tot+B) from the literal
    counts, λ_r[b] = (rc+1)/(r_tot+B) from the corpus; per-word
    log-ratio ln(λ_t/λ_r) rounded to 8dp before the per-doc average
    (the association-insensitivity discipline from
    text_unigram_lm_score). Docs rich in target-domain tokens score
    higher — pinned in tests via quartile separation. The final score
    carries a ``+ 0.0`` AFTER the round on both engines: DuckDB's
    round propagates IEEE −0.0 for tiny negative averages while
    Spark's HALF_UP round returns +0.0, and the driver's value hash
    distinguishes the two (sf0.1 had 38 such docs — a failure class
    no earlier query hit).

    Scale shape: ONE corpus-side bucket aggregate (256 rows —
    broadcast), one explode of the corpus into words, no word-keyed
    shuffle at all (the per-word model join is against a broadcast
    256-row dim; contrast the LM scorer's distributed vocab join —
    DSIR's whole point is that hashed features keep the model small
    regardless of corpus size).
    """
    t_tot = len(_DSIR_TARGET_TOKENS)
    tgt = spark.createDataFrame(
        _dsir_target_counts(), "bucket long, tc long"
    )
    docs = doc_words(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode("words").alias("word")
    ).filter(F.length("word") > 0)
    words = words.withColumn(
        "bucket", _hash64(F.col("word"), salt=777) % _DSIR_BUCKETS
    )
    raw = words.groupBy("bucket").agg(F.count("*").alias("rc"))
    # total from the 256-row aggregate, NOT a second corpus pass —
    # Σ rc ≡ count(*) over words, and the model subtree then costs one
    # corpus explode instead of two (the final scoring join is the
    # only other pass; recomputing beats caching a token-sized
    # relation at 100 TB)
    r_tot = raw.agg(F.sum("rc").alias("r_tot"))
    model = (
        raw.join(F.broadcast(tgt), "bucket", "left")
        .withColumn("tc", F.coalesce(F.col("tc"), F.lit(0)))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.col("tc") + 1) * (F.col("r_tot") + _DSIR_BUCKETS)).cast("double")
                    / ((F.col("rc") + 1) * F.lit(t_tot + _DSIR_BUCKETS)).cast("double")
                ),
                8,
            ).alias("log_ratio"),
        )
    )
    return (
        words.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.round(F.avg("log_ratio") + 1e-9, 4) + 0.0).alias("dsir_score"),
        )
        .orderBy("doc_id")
    )


def _dsir_target_values_sql() -> str:
    return ", ".join(f"({b}, {c})" for b, c in _dsir_target_counts())


CORPUS_DSIR_IMPORTANCE_SQL = f"""
WITH words AS (
  SELECT doc_id,
         {_HASH64_SQL.format(salt=777, col='word')} % {_DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id,
               unnest(string_split({NORMALIZE_SQL.format(col='text')}, ' ')) AS word
        FROM documents)
  WHERE length(word) > 0
),
tgt(bucket, tc) AS (VALUES {_dsir_target_values_sql()}),
raw AS (SELECT bucket, count(*) AS rc FROM words GROUP BY bucket),
r_tot AS (SELECT sum(rc) AS r_tot FROM raw),
model AS (
  SELECT bucket,
         round(ln(CAST((coalesce(tc, 0) + 1) * (r_tot + {_DSIR_BUCKETS}) AS DOUBLE)
                  / CAST((rc + 1) * {len(_DSIR_TARGET_TOKENS) + _DSIR_BUCKETS} AS DOUBLE)), 8)
           AS log_ratio
  FROM raw LEFT JOIN tgt USING (bucket)
  CROSS JOIN r_tot
)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(log_ratio) + 1e-9, 4) + 0.0 AS dsir_score
FROM words JOIN model USING (bucket)
GROUP BY doc_id
ORDER BY doc_id
"""


def corpus_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first token-budget selection — the mixture-building step
    after scoring: each source contributes its BEST documents until a
    per-source token budget (half the source's total tokens) is
    exhausted, the greedy knapsack every "train on the top-q% by
    quality" recipe runs at corpus scale.

    Shape: one doc-level join (quality ⋈ token counts), then TWO
    window functions over the SAME (source) partitioning — a running
    token sum ordered by (quality DESC, doc_id) and the partition
    total — so Catalyst plans ONE shuffle and consecutive WindowExec
    nodes; the kept/cut decision ``2·cum ≤ total`` is pure BIGINT
    arithmetic (no float threshold to diverge cross-engine). Per-source
    sort is the intrinsic cost of "take the best under a budget"; at
    100 TB the partition key is the source (bounded cardinality), and
    a skewed mega-source would shard via the same quality-bucket
    pre-aggregation trick as `customer_rfm_segments` documents.

    Output: per-source packing audit — docs/tokens kept vs total, the
    achieved token fraction, and the quality cut-line (the lowest
    quality that still fit the budget).
    """
    from cdc_realtime_pipeline_spark.functions import text as TX
    from cdc_realtime_pipeline_spark.operators.text_ops import _quality_scores

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.ws_token_count(F.col("text")).alias("n_tokens")
    )
    q = _quality_scores(spark, sf_dir)  # session memo (round 13, guide §5)
    j = docs.join(q, "doc_id")
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    flagged = j.select(
        "source",
        "n_tokens",
        "quality",
        (F.sum("n_tokens").over(w_cum) * 2 <= F.sum("n_tokens").over(w_all)).alias(
            "kept"
        ),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("kept"), F.lit(1))).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "tokens_kept"
            ),
            F.sum("n_tokens").alias("tokens_total"),
            F.round(
                F.min(F.when(F.col("kept"), F.col("quality"))) + 1e-9, 4
            ).alias("quality_cutline"),
        )
        .withColumn(
            "kept_token_frac",
            F.round(F.col("tokens_kept") / F.col("tokens_total") + 1e-9, 4),
        )
        .orderBy("source")
    )


CORPUS_TOKEN_BUDGET_PACK_SQL = f"""
WITH q AS ({_TQ_SQL}),
d AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
),
j AS (
  SELECT d.source, d.n_tokens, q.quality, d.doc_id
  FROM d JOIN q ON d.doc_id = q.doc_id
),
flagged AS (
  SELECT source, n_tokens, quality,
         2 * sum(n_tokens) OVER (
           PARTITION BY source ORDER BY quality DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           <= sum(n_tokens) OVER (PARTITION BY source) AS kept
  FROM j
)
SELECT source,
       count(*) AS n_docs,
       count(CASE WHEN kept THEN 1 END) AS n_kept,
       CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       round(min(CASE WHEN kept THEN quality END) + 1e-9, 4) AS quality_cutline,
       round(sum(CASE WHEN kept THEN n_tokens ELSE 0 END)
             / CAST(sum(n_tokens) AS DOUBLE) + 1e-9, 4) AS kept_token_frac
FROM flagged
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# Kneser–Ney bigram language model (interpolated, fixed discount)
# --------------------------------------------------------------------------

_KN_D = 0.75
_KN_TOP = 25


def text_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram model trained on the corpus,
    reporting the top-{T} bigrams by smoothed probability — the
    classic LM-smoothing step past text_unigram_lm_score: KN backs
    off not to raw unigram frequency but to the CONTINUATION count
    (in how many distinct left-contexts does w appear?), which is
    what demotes "Francisco"-type words that are frequent yet glued
    to one context. The trained table is the scoring model a
    perplexity-filter (CCNet-style) uses downstream.

    P(w2|w1) = max(c−d,0)/c(w1·) + d·N1+(w1·)/c(w1·) · N1+(·w2)/T,
    d = {D}. Every statistic is a word- or pair-keyed integer count:
    bigram counts (map-side combinable), per-w1 totals and follower
    types re-aggregated FROM the pair relation (no second scan),
    continuation counts and T likewise — so the model is three
    aggregates over one tokenization pass, distributed end-to-end
    (the vocabulary never collects to the driver). Adjacency comes
    from zip_with over the filtered token array — no positional
    self-join. Probabilities are exact-integer-derived doubles,
    rounded 6dp before the bounded TakeOrdered.
    """
    docs = doc_words(spark, sf_dir)
    arr = F.filter(F.col("words"), lambda x: F.length(x) > 0)
    pairs = (
        docs.select(arr.alias("ws"))
        # size guard: slice(ws, 1, -1) throws on a zero-token doc;
        # size<2 docs contribute no bigrams either way (ADVICE r10)
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    c = tracked_persist(
        pairs.groupBy("w1", "w2").agg(F.count("*").alias("c_bigram"))
    )
    left = c.groupBy("w1").agg(
        F.sum("c_bigram").alias("c1"), F.count("*").alias("n1f")
    )
    cont = c.groupBy("w2").agg(F.count("*").alias("n1p"))
    t = c.agg(F.count("*").cast("double").alias("tt"))
    j = (
        c.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
    )
    scored = j.select(
        "w1",
        "w2",
        "c_bigram",
        F.expr(
            f"round((greatest(c_bigram - {_KN_D}, 0.0) / c1"
            f" + {_KN_D} * n1f / c1 * (n1p / tt)) + 1e-9, 6) + 0.0"
        ).alias("p_kn"),
        F.expr("round(n1p / tt + 1e-9, 6) + 0.0").alias("p_continuation"),
    )
    return scored.orderBy(F.desc("p_kn"), "w1", "w2").limit(_KN_TOP)


text_bigram_kneser_ney.__doc__ = text_bigram_kneser_ney.__doc__.format(
    T=_KN_TOP, D=_KN_D
)

TEXT_BIGRAM_KNESER_NEY_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split({NORMALIZE_SQL.format(col='text')}, ' '),
                     x -> length(x) > 0) AS ws
  FROM documents
),
pairs AS (
  SELECT ws[CAST(t.i AS INT) + 1] AS w1, ws[CAST(t.i AS INT) + 2] AS w2
  FROM toks, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) t
),
c AS (
  SELECT w1, w2, count(*) AS c_bigram FROM pairs GROUP BY w1, w2
),
lft AS (
  SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c1, count(*) AS n1f
  FROM c GROUP BY w1
),
cont AS (SELECT w2, count(*) AS n1p FROM c GROUP BY w2),
t AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM c)
SELECT c.w1, c.w2,
       CAST(c.c_bigram AS BIGINT) AS c_bigram,
       round((greatest(c.c_bigram - {_KN_D}, 0.0) / lft.c1
              + {_KN_D} * lft.n1f / lft.c1 * (cont.n1p / t.tt)) + 1e-9, 6)
         + 0.0 AS p_kn,
       round(cont.n1p / t.tt + 1e-9, 6) + 0.0 AS p_continuation
FROM c
JOIN lft ON c.w1 = lft.w1
JOIN cont ON c.w2 = cont.w2
CROSS JOIN t
ORDER BY p_kn DESC, c.w1, c.w2
LIMIT {_KN_TOP}
"""


_QLG_ITERS = 4  # IRLS iterations (the user_logistic_regression count)
_QLG_CAP = 15.0  # eta cap: sigmoid saturation / 1/w bound


def _cramer3(sw, s1, s2, s11, s12, s22, sz, s1z, s2z) -> tuple[str, str, str]:
    """Closed-form solve of the symmetric 3×3 weighted normal
    equations by Cramer's rule — ONE SQL expression triple shared
    verbatim by the Spark loop (F.expr) and the DuckDB oracle, so
    both engines walk bit-identical arithmetic. Arguments are the
    nine moment column names."""
    det = (
        f"({sw} * ({s11} * {s22} - {s12} * {s12})"
        f" - {s1} * ({s1} * {s22} - {s12} * {s2})"
        f" + {s2} * ({s1} * {s12} - {s11} * {s2}))"
    )
    b0 = (
        f"round(({sz} * ({s11} * {s22} - {s12} * {s12})"
        f" - {s1} * ({s1z} * {s22} - {s12} * {s2z})"
        f" + {s2} * ({s1z} * {s12} - {s11} * {s2z})) / {det} + 1e-12, 8)"
    )
    b1 = (
        f"round(({sw} * ({s1z} * {s22} - {s12} * {s2z})"
        f" - {sz} * ({s1} * {s22} - {s12} * {s2})"
        f" + {s2} * ({s1} * {s2z} - {s1z} * {s2})) / {det} + 1e-12, 8)"
    )
    b2 = (
        f"round(({sw} * ({s11} * {s2z} - {s1z} * {s12})"
        f" - {s1} * ({s1} * {s2z} - {s1z} * {s2})"
        f" + {sz} * ({s1} * {s12} - {s11} * {s2})) / {det} + 1e-12, 8)"
    )
    return b0, b1, b2


def docs_quality_logistic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-CLASSIFIER gate of a curation pipeline (the
    fastText-style filter of GPT-3/LLaMA data prep — Brown 2020 §A,
    Touvron 2023): a logistic model over cheap text-shape features
    scores every document, and the pipeline keeps what clears the
    sigmoid. Two engineered features — x₁ = ln(1+tokens), x₂ = mean
    chars/token — fit by {I} unrolled IRLS iterations against a
    DETERMINISTIC stand-in label (lang = 'en'; a human/LLM quality
    annotation drops in as a label-column swap, the same
    trained-artifact seam as the hash-derived PQ codebook). Extends
    the GLM family's 2×2 solves (user_poisson / user_logistic) to the
    3-coefficient weighted normal equations, solved closed-form by a
    Cramer triple SHARED verbatim between engines (`_cramer3`).

    Shape: one tokenization scan → per-doc (x₁, x₂, y) persisted
    (doc-count-sized), then per iteration ONE nine-moment weighted
    aggregate (map-side combinable, scalar result) + the broadcast
    scalar solve — IRLS at corpus scale is {I} scans of a persisted
    feature relation, nothing driver-side. η capped ±{C} (bounds 1/w
    through sigmoid saturation), coefficients rounded 8dp per
    iteration so float drift cannot compound across iterations.
    Output: coefficients, training accuracy at 0.5, kept fraction.
    """
    docs = doc_words(spark, sf_dir)
    toks = F.filter(F.col("words"), lambda x: F.length(x) > 0)
    base = tracked_persist(
        docs.select(
            (F.col("lang") == "en").cast("double").alias("y"),
            F.size(toks).cast("double").alias("nt"),
            F.col("n_chars").cast("double").alias("nc"),
        ).select(
            "y",
            F.expr("ln(1.0 + nt)").alias("x1"),
            F.expr("nc / (1.0 + nt)").alias("x2"),
        )
    )
    b = base.agg(
        F.expr("round(ln(avg(y) / (1.0 - avg(y))) + 1e-12, 8)").alias("b0"),
        F.lit(0.0).alias("b1"),
        F.lit(0.0).alias("b2"),
    )
    eta = (
        f"greatest(least(b0 + b1 * x1 + b2 * x2, {_QLG_CAP}), -{_QLG_CAP})"
    )
    e0, e1, e2 = _cramer3(
        "sw", "s1", "s2", "s11", "s12", "s22", "sz", "s1z", "s2z"
    )
    for _ in range(_QLG_ITERS):
        m = (
            base.crossJoin(F.broadcast(b))
            .select("x1", "x2", "y", F.expr(eta).alias("eta"))
            .select(
                "x1",
                "x2",
                "y",
                "eta",
                F.expr("1.0 / (1.0 + exp(-eta))").alias("mu"),
            )
            .select(
                "x1",
                "x2",
                F.expr("mu * (1.0 - mu)").alias("w"),
                F.expr("eta + (y - mu) / (mu * (1.0 - mu))").alias("z"),
            )
            .agg(
                F.sum("w").alias("sw"),
                F.sum(F.expr("w * x1")).alias("s1"),
                F.sum(F.expr("w * x2")).alias("s2"),
                F.sum(F.expr("w * x1 * x1")).alias("s11"),
                F.sum(F.expr("w * x1 * x2")).alias("s12"),
                F.sum(F.expr("w * x2 * x2")).alias("s22"),
                F.sum(F.expr("w * z")).alias("sz"),
                F.sum(F.expr("w * x1 * z")).alias("s1z"),
                F.sum(F.expr("w * x2 * z")).alias("s2z"),
            )
        )
        b = m.select(
            F.expr(e0).alias("b0"),
            F.expr(e1).alias("b1"),
            F.expr(e2).alias("b2"),
        )
    final = base.crossJoin(F.broadcast(b)).withColumn("eta", F.expr(eta))
    return final.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("round(max(b0) + 1e-9, 6) + 0.0").alias("b0"),
        F.expr("round(max(b1) + 1e-9, 6) + 0.0").alias("b_logtok"),
        F.expr("round(max(b2) + 1e-9, 6) + 0.0").alias("b_wlen"),
        F.count_if(
            ((F.col("eta") > 0) & (F.col("y") == 1.0))
            | ((F.col("eta") <= 0) & (F.col("y") == 0.0))
        )
        .cast("long")
        .alias("n_correct_at_half"),
        F.count_if(F.col("eta") > 0).cast("long").alias("n_kept"),
        F.expr("round(avg(y) + 1e-9, 4) + 0.0").alias("base_rate"),
    )


docs_quality_logistic_gate.__doc__ = docs_quality_logistic_gate.__doc__.format(
    I=_QLG_ITERS, C=_QLG_CAP
)


def _qlg_pass_sql(prev: str, out: str) -> str:
    eta = (
        f"greatest(least({prev}.b0 + {prev}.b1 * x1 + {prev}.b2 * x2,"
        f" {_QLG_CAP}), -{_QLG_CAP})"
    )
    e0, e1, e2 = _cramer3(
        "sw", "s1", "s2", "s11", "s12", "s22", "sz", "s1z", "s2z"
    )
    return f"""
m_{out} AS (
  SELECT sum(w) AS sw,
         sum(w * x1) AS s1, sum(w * x2) AS s2,
         sum(w * x1 * x1) AS s11, sum(w * x1 * x2) AS s12,
         sum(w * x2 * x2) AS s22,
         sum(w * z) AS sz, sum(w * x1 * z) AS s1z, sum(w * x2 * z) AS s2z
  FROM (
    SELECT x1, x2,
           mu * (1.0 - mu) AS w,
           eta + (y - mu) / (mu * (1.0 - mu)) AS z
    FROM (
      SELECT x1, x2, y, eta, 1.0 / (1.0 + exp(-eta)) AS mu
      FROM (SELECT x1, x2, y, {eta} AS eta FROM base CROSS JOIN {prev})
    )
  )
),
{out} AS (
  SELECT {e0} AS b0, {e1} AS b1, {e2} AS b2 FROM m_{out}
)"""


def _qlg_oracle_sql() -> str:
    passes = ",".join(
        _qlg_pass_sql(f"it{i}", f"it{i + 1}") for i in range(_QLG_ITERS)
    )
    eta = (
        f"greatest(least(f.b0 + f.b1 * x1 + f.b2 * x2, {_QLG_CAP}),"
        f" -{_QLG_CAP})"
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         ln(1.0 + nt) AS x1,
         nc / (1.0 + nt) AS x2
  FROM (
    SELECT lang,
           CAST(len(list_filter(
             string_split({NORMALIZE_SQL.format(col='text')}, ' '),
             x -> length(x) > 0)) AS DOUBLE) AS nt,
           CAST(n_chars AS DOUBLE) AS nc
    FROM documents
  )
),
it0 AS (
  SELECT round(ln(avg(y) / (1.0 - avg(y))) + 1e-12, 8) AS b0,
         0.0 AS b1, 0.0 AS b2
  FROM base
),
{passes}
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(max(f.b0) + 1e-9, 6) + 0.0 AS b0,
       round(max(f.b1) + 1e-9, 6) + 0.0 AS b_logtok,
       round(max(f.b2) + 1e-9, 6) + 0.0 AS b_wlen,
       CAST(count(CASE WHEN ({eta} > 0 AND y = 1.0)
                         OR ({eta} <= 0 AND y = 0.0) THEN 1 END)
            AS BIGINT) AS n_correct_at_half,
       CAST(count(CASE WHEN {eta} > 0 THEN 1 END) AS BIGINT) AS n_kept,
       round(avg(y) + 1e-9, 4) + 0.0 AS base_rate
FROM base CROSS JOIN it{_QLG_ITERS} f
"""


def text_kn_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY leg of ``text_bigram_kneser_ney`` — CCNet-style
    perplexity filtering with the trained bigram model instead of
    `corpus_perplexity_buckets`' unigram proxy: every document is
    scored by its mean bigram cross-entropy −(1/B)·Σ log₂ P_KN(w₂|w₁)
    under the corpus-trained interpolated-KN table, then rolled up to
    per-(source, ⌊CE⌋ band) populations — the table a curation run
    reads to set its perplexity cut line per source.

    Shape: ONE tokenization pass → per-doc bigram relation (persisted;
    the corpus-scale term), the model's three integer aggregates
    re-derived FROM that relation (no second scan — same statistics as
    the training row), then pairs ⋈ model on (w1, w2) — the
    shingle-join class, pair-keyed shuffle, AQE decides — and two
    map-side-combinable roll-ups (doc, then band). Training on the
    scoring corpus means every scored bigram exists in the model, so
    the join is inner with no OOV branch (held-out scoring adds a
    back-off row, not a new plan).

    Cross-engine: P_KN stays UNROUNDED into log₂ (tail probabilities
    round to 0 at any fixed scale — log of the exact integer-derived
    rationals instead; both engines evaluate the identical division
    tree, log2 is 1-ulp libm), per-doc CE rounds 4dp, band = ⌊CE⌋ on
    the rounded value so the band edge is taken on identical doubles.
    """
    docs = doc_words(spark, sf_dir)
    arr = F.filter(F.col("words"), lambda x: F.length(x) > 0)
    pairs = tracked_persist(
        docs.select("doc_id", "source", arr.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "source", "bg.w1", "bg.w2")
    )
    c = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c_bigram"))
    left = c.groupBy("w1").agg(
        F.sum("c_bigram").alias("c1"), F.count("*").alias("n1f")
    )
    cont = c.groupBy("w2").agg(F.count("*").alias("n1p"))
    t = c.agg(F.count("*").cast("double").alias("tt"))
    model = (
        c.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            F.expr(
                f"log2(greatest(c_bigram - {_KN_D}, 0.0) / c1"
                f" + {_KN_D} * n1f / c1 * (n1p / tt))"
            ).alias("lp"),
        )
    )
    doc_ce = (
        pairs.join(model, ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("round(-avg(lp) + 1e-9, 4)").alias("ce"),
        )
    )
    return (
        doc_ce.groupBy("source", F.floor("ce").cast("long").alias("ce_band"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            (F.round(F.avg("ce") + 1e-9, 4) + 0.0).alias("avg_ce"),
        )
        .orderBy("source", "ce_band")
    )


TEXT_KN_PERPLEXITY_BANDS_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, source,
         list_filter(string_split({NORMALIZE_SQL.format(col='text')}, ' '),
                     x -> length(x) > 0) AS ws
  FROM documents
),
pairs AS MATERIALIZED (
  SELECT doc_id, source,
         ws[CAST(t.i AS INT) + 1] AS w1, ws[CAST(t.i AS INT) + 2] AS w2
  FROM toks, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) t
  WHERE len(ws) >= 2
),
c AS MATERIALIZED (
  SELECT w1, w2, count(*) AS c_bigram FROM pairs GROUP BY w1, w2
),
lft AS (
  SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c1, count(*) AS n1f
  FROM c GROUP BY w1
),
cont AS (SELECT w2, count(*) AS n1p FROM c GROUP BY w2),
t AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM c),
model AS MATERIALIZED (
  SELECT c.w1, c.w2,
         log2(greatest(c.c_bigram - {_KN_D}, 0.0) / lft.c1
              + {_KN_D} * lft.n1f / lft.c1 * (cont.n1p / t.tt)) AS lp
  FROM c
  JOIN lft ON c.w1 = lft.w1
  JOIN cont ON c.w2 = cont.w2
  CROSS JOIN t
),
doc_ce AS (
  SELECT p.doc_id, p.source,
         count(*) AS n_bigrams,
         round(-avg(m.lp) + 1e-9, 4) AS ce
  FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
  GROUP BY p.doc_id, p.source
)
SELECT source,
       CAST(floor(ce) AS BIGINT) AS ce_band,
       count(*) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       round(avg(ce) + 1e-9, 4) + 0.0 AS avg_ce
FROM doc_ce
GROUP BY source, ce_band
ORDER BY source, ce_band
"""


# --------------------------------------------------------------------------
# MTLD lexical diversity (sequential factor walk)
# --------------------------------------------------------------------------

_MTLD_T100 = 72  # TTR threshold 0.72, held as an integer percent


def text_mtld_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTLD — Measure of Textual Lexical Diversity (McCarthy & Jarvis
    2010), forward pass: walk each doc's tokens keeping the current
    factor's type set; whenever the running type-token ratio drops
    below 0.72, close a factor and reset; MTLD = tokens / (factors +
    partial). THE length-robust diversity metric (raw TTR falls with
    doc length by arithmetic; MTLD doesn't), and deliberately the
    repo's hardest fold: the accumulator carries a SET, not scalars.

    Cross-engine discipline: the threshold test is pure integers
    (100·|types| < 72·count) so both engines close factors on
    bit-identical steps; the only float is the final partial-factor
    ratio. Spark folds a struct accumulator (sound semantics);
    DuckDB 1.0's list_reduce mutates struct fields (the Holt quirk),
    so its accumulator is a VARCHAR LIST — [factors, count,
    types...] — seeded by PREPENDING the initial state as element
    one (list_reduce's seeding rule). Per-doc state never leaves the
    executor; per-source aggregate output.
    """
    docs = doc_words(spark, sf_dir)
    ws = F.filter(F.col("words"), lambda x: F.length(x) > 0)
    base = docs.select("source", ws.alias("ws")).filter(F.size("ws") > 0)
    types2 = (
        "CASE WHEN array_contains(acc.types, w) THEN acc.types"
        " ELSE array_append(acc.types, w) END"
    )
    fold = f"""
aggregate(
  ws,
  named_struct('c', 0, 'types', CAST(array() AS array<string>),
               'factors', 0),
  (acc, w) -> CASE
    WHEN 100 * size({types2}) < {_MTLD_T100} * (acc.c + 1)
    THEN named_struct('c', 0, 'types', CAST(array() AS array<string>),
                      'factors', acc.factors + 1)
    ELSE named_struct('c', acc.c + 1, 'types', {types2},
                      'factors', acc.factors)
  END
)"""
    scored = base.select(
        "source",
        F.size("ws").cast("double").alias("n"),
        F.expr(fold).alias("st"),
    ).select(
        "source",
        "n",
        F.expr(
            f"""
round(CASE
  WHEN st.factors + (CASE WHEN st.c > 0
       THEN (1.0 - size(st.types) / CAST(st.c AS DOUBLE))
            / (1.0 - {_MTLD_T100} / 100.0) ELSE 0.0 END) > 1e-12
  THEN n / (st.factors + (CASE WHEN st.c > 0
       THEN (1.0 - size(st.types) / CAST(st.c AS DOUBLE))
            / (1.0 - {_MTLD_T100} / 100.0) ELSE 0.0 END))
  ELSE n END + 1e-9, 4)
"""
        ).alias("mtld"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("round(avg(mtld) + 1e-9, 4) + 0.0").alias("avg_mtld"),
            F.expr("round(min(mtld) + 1e-9, 4) + 0.0").alias("min_mtld"),
        )
        .orderBy("source")
    )


_MTLD_TYPES2_SQL = (
    "CASE WHEN list_contains(acc[3:], e[1]) THEN acc[3:]"
    " ELSE list_append(acc[3:], e[1]) END"
)

TEXT_MTLD_DIVERSITY_SQL = f"""
WITH toks AS (
  SELECT source,
         list_filter(string_split({NORMALIZE_SQL.format(col='text')}, ' '),
                     x -> length(x) > 0) AS ws
  FROM documents
),
folded AS (
  SELECT source, CAST(len(ws) AS DOUBLE) AS n,
         list_reduce(
           list_concat([['0', '0']], list_transform(ws, w -> [w])),
           (acc, e) -> CASE
             WHEN 100 * len({_MTLD_TYPES2_SQL})
                  < {_MTLD_T100} * (CAST(acc[2] AS INT) + 1)
             THEN [CAST(CAST(acc[1] AS INT) + 1 AS VARCHAR), '0']
             ELSE list_concat(
               [acc[1], CAST(CAST(acc[2] AS INT) + 1 AS VARCHAR)],
               {_MTLD_TYPES2_SQL})
           END) AS st
  FROM toks WHERE len(ws) > 0
),
scored AS (
  SELECT source, n,
         round(CASE
           WHEN CAST(st[1] AS INT)
                + (CASE WHEN CAST(st[2] AS INT) > 0
                   THEN (1.0 - (len(st) - 2) / CAST(CAST(st[2] AS INT) AS DOUBLE))
                        / (1.0 - {_MTLD_T100} / 100.0) ELSE 0.0 END) > 1e-12
           THEN n / (CAST(st[1] AS INT)
                + (CASE WHEN CAST(st[2] AS INT) > 0
                   THEN (1.0 - (len(st) - 2) / CAST(CAST(st[2] AS INT) AS DOUBLE))
                        / (1.0 - {_MTLD_T100} / 100.0) ELSE 0.0 END))
           ELSE n END + 1e-9, 4) AS mtld
  FROM folded
)
SELECT source,
       count(*) AS n_docs,
       round(avg(mtld) + 1e-9, 4) + 0.0 AS avg_mtld,
       round(min(mtld) + 1e-9, 4) + 0.0 AS min_mtld
FROM scored GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# PMI collocation mining
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 25


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining (Church &
    Hanks 1990): the top-{T} adjacent word pairs whose co-occurrence
    most exceeds chance — PMI = ln(p(ab)/(p(a)p(b))) — the classic
    multiword-expression detector, complementary to the other bigram
    rankings (raw counts = tokenizer_bpe_pair_counts, smoothed
    probability = text_bigram_kneser_ney; PMI is the ASSOCIATION
    ranking that surfaces "los angeles" over "of the"). The ≥{M}
    count floor is mandatory PMI hygiene: a hapax pair of two hapax
    words scores the maximum PMI by arithmetic, not by signal.

    Same scale shape as the KN trainer: one tokenization pass,
    unigram and bigram integer aggregates (word/pair-keyed,
    map-side combinable), totals as broadcast 1-row joins, exact-
    integer-derived PMI rounded 6dp before the bounded TakeOrdered.
    """
    docs = doc_words(spark, sf_dir)
    arr = F.filter(F.col("words"), lambda x: F.length(x) > 0)
    toks = tracked_persist(docs.select(arr.alias("ws")))
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    n_uni = uni.agg(F.sum("cw").cast("double").alias("nu"))
    pairs = (
        # size guard: slice(ws, 1, -1) throws on a zero-token doc;
        # size<2 docs contribute no bigrams either way (ADVICE r10)
        toks.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_bigram"))
        .filter(F.col("c_bigram") >= _PMI_MIN_COUNT)
    )
    n_bi = pairs.agg(F.sum("c_bigram").cast("double").alias("nb"))
    j = (
        pairs.join(uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    scored = j.select(
        "w1",
        "w2",
        "c_bigram",
        F.expr(
            "round(ln((c_bigram / nb) / ((c1 / nu) * (c2 / nu)))"
            " + 1e-9, 6) + 0.0"
        ).alias("pmi"),
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(_PMI_TOP)


text_pmi_collocations.__doc__ = text_pmi_collocations.__doc__.format(
    T=_PMI_TOP, M=_PMI_MIN_COUNT
)

TEXT_PMI_COLLOCATIONS_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT list_filter(string_split({NORMALIZE_SQL.format(col='text')}, ' '),
                     x -> length(x) > 0) AS ws
  FROM documents
),
uni AS (
  SELECT w, count(*) AS cw
  FROM (SELECT unnest(ws) AS w FROM toks) u GROUP BY w
),
n_uni AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uni),
pairs AS (
  SELECT w1, w2, count(*) AS c_bigram
  FROM (
    SELECT ws[CAST(t.i AS INT) + 1] AS w1, ws[CAST(t.i AS INT) + 2] AS w2
    FROM toks, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) t
  ) p
  GROUP BY w1, w2
  HAVING count(*) >= {_PMI_MIN_COUNT}
),
n_bi AS (SELECT CAST(sum(c_bigram) AS DOUBLE) AS nb FROM pairs)
SELECT p.w1, p.w2,
       CAST(p.c_bigram AS BIGINT) AS c_bigram,
       round(ln((p.c_bigram / n_bi.nb)
                / ((u1.cw / n_uni.nu) * (u2.cw / n_uni.nu))) + 1e-9, 6)
         + 0.0 AS pmi
FROM pairs p
JOIN uni u1 ON p.w1 = u1.w
JOIN uni u2 ON p.w2 = u2.w
CROSS JOIN n_uni CROSS JOIN n_bi
ORDER BY pmi DESC, p.w1, p.w2
LIMIT {_PMI_TOP}
"""


def docs_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based document quality gate (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A — the public
    rule family most curation stacks start from): per-source counts of
    documents failing each structural rule and the kept count.

    Rules (exact-integer comparisons — no float thresholds anywhere,
    so both engines take every boundary identically):
      R1 word count      50 ≤ n_words ≤ 100000
      R2 mean word len   3 ≤ sum_len/n_words ≤ 10  ⇔  3·n ≤ sum_len ≤ 10·n
      R3 alpha fraction  ≥ 0.8 of words contain a letter ⇔ 5·n_alpha ≥ 4·n

    One corpus pass: the per-doc integer moments are array HOFs over
    the session-memoized tokenized corpus (``doc_words``) — NO token
    explode and NO (source, doc_id) shuffle at all (VERDICT r9 #6:
    the exploded form re-probed α=0.71 because the token-level
    groupBy re-derived what one codegen'd pass over the cached array
    computes in place). The only shuffle left is the bounded
    per-source roll-up. Docs with zero non-empty words are dropped,
    matching the exploded form (and the oracle) exactly.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    nz = F.filter("words", lambda w: F.length(w) > 0)
    per_doc = (
        doc_words(spark, sf_dir)
        .select(
            "source",
            F.size(nz).cast("long").alias("n_words"),
            F.aggregate(
                nz,
                F.lit(0).cast("long"),
                lambda acc, w: acc + F.length(w),
            ).alias("sum_len"),
            F.size(F.filter(nz, lambda w: w.rlike("[a-z]")))
            .cast("long")
            .alias("n_alpha"),
        )
        .filter(F.col("n_words") > 0)
    )
    flagged = per_doc.select(
        "source",
        (~F.col("n_words").between(50, 100000)).cast("long").alias("f_wc"),
        (
            (F.col("sum_len") < 3 * F.col("n_words"))
            | (F.col("sum_len") > 10 * F.col("n_words"))
        ).cast("long").alias("f_mwl"),
        (5 * F.col("n_alpha") < 4 * F.col("n_words")).cast("long").alias("f_alpha"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_wc").alias("fail_wordcount"),
            F.sum("f_mwl").alias("fail_meanlen"),
            F.sum("f_alpha").alias("fail_alpha"),
            F.count(
                F.when(
                    (F.col("f_wc") + F.col("f_mwl") + F.col("f_alpha")) == 0, 1
                )
            ).alias("kept"),
        )
        .orderBy("source")
    )


def quality_gate_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fairness audit of the Gopher gate across sources — the check a
    curation pipeline owes its corpus: a quality filter that passes
    one provenance at 90% and another at 40% silently rewrites the
    data mixture (the "filtering disparately excludes" failure mode
    documented for every public web-scale filter). Per source:
    pass rate, disparate-impact ratio vs the best-passing source
    (four-fifths rule — the EEOC threshold, flagged by the EXACT
    integer comparison 5·kept_s·n_ref < 4·n_s·kept_ref, no float
    boundary), and statistical parity difference vs the corpus rate.

    Chained on ``docs_gopher_quality_gate``'s own output — audit and
    gate cannot drift apart. Everything is bounded: the gate output
    is source-sized, the reference row is a struct-max over it, the
    corpus rate one more 1-row broadcast.
    """
    gate = docs_gopher_quality_gate(spark, sf_dir).select(
        "source", "n_docs", F.col("kept").alias("n_kept")
    )
    ref = gate.agg(
        F.max(
            F.struct(
                (F.col("n_kept") / F.col("n_docs")).alias("rate"),
                F.col("source").alias("ref_source"),
                F.col("n_kept").alias("ref_kept"),
                F.col("n_docs").alias("ref_docs"),
            )
        ).alias("r")
    ).select("r.ref_source", "r.ref_kept", "r.ref_docs")
    tot = gate.agg(
        F.sum("n_kept").alias("tot_kept"), F.sum("n_docs").alias("tot_docs")
    )
    return (
        gate.crossJoin(F.broadcast(ref))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_kept",
            (
                F.round(F.col("n_kept") / F.col("n_docs") + 1e-9, 6) + 0.0
            ).alias("pass_rate"),
            "ref_source",
            (
                F.round(
                    (F.col("n_kept") * F.col("ref_docs"))
                    / (F.col("n_docs") * F.col("ref_kept")).cast("double")
                    + 1e-9,
                    6,
                )
                + 0.0
            ).alias("di_ratio"),
            (
                5 * F.col("n_kept") * F.col("ref_docs")
                < 4 * F.col("n_docs") * F.col("ref_kept")
            )
            .cast("int")
            .alias("fails_four_fifths"),
            (
                F.round(
                    F.col("n_kept") / F.col("n_docs")
                    - F.col("tot_kept") / F.col("tot_docs").cast("double")
                    + 1e-9,
                    6,
                )
                + 0.0
            ).alias("parity_diff"),
        )
        .orderBy("source")
    )


def _fairness_oracle_sql() -> str:
    gate = DOCS_GOPHER_QUALITY_GATE_SQL.strip()
    return f"""
WITH gate AS ({gate}),
g AS (SELECT source, n_docs, kept AS n_kept FROM gate),
ref AS (
  SELECT source AS ref_source, n_kept AS ref_kept, n_docs AS ref_docs
  FROM g
  ORDER BY n_kept / CAST(n_docs AS DOUBLE) DESC, source DESC
  LIMIT 1
),
tot AS (
  SELECT CAST(sum(n_kept) AS BIGINT) AS tot_kept,
         CAST(sum(n_docs) AS BIGINT) AS tot_docs
  FROM g
)
SELECT g.source, g.n_docs, g.n_kept,
       round(g.n_kept / CAST(g.n_docs AS DOUBLE) + 1e-9, 6) + 0.0
         AS pass_rate,
       ref.ref_source,
       round((g.n_kept * ref.ref_docs)
             / CAST(g.n_docs * ref.ref_kept AS DOUBLE) + 1e-9, 6) + 0.0
         AS di_ratio,
       CASE WHEN 5 * g.n_kept * ref.ref_docs
                 < 4 * g.n_docs * ref.ref_kept THEN 1 ELSE 0 END
         AS fails_four_fifths,
       round(g.n_kept / CAST(g.n_docs AS DOUBLE)
             - tot.tot_kept / CAST(tot.tot_docs AS DOUBLE) + 1e-9, 6) + 0.0
         AS parity_diff
FROM g CROSS JOIN ref CROSS JOIN tot
ORDER BY g.source
"""


DOCS_GOPHER_QUALITY_GATE_SQL = f"""
WITH toks AS (
  SELECT source, doc_id, word
  FROM (SELECT source, doc_id,
               unnest(string_split({NORMALIZE_SQL.format(col='text')}, ' ')) AS word
        FROM documents)
  WHERE length(word) > 0
),
per_doc AS (
  SELECT source, doc_id,
         count(*) AS n_words,
         sum(length(word)) AS sum_len,
         count(CASE WHEN regexp_matches(word, '[a-z]') THEN 1 END) AS n_alpha
  FROM toks GROUP BY 1, 2
),
flagged AS (
  SELECT source,
         CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f_wc,
         CASE WHEN sum_len < 3 * n_words OR sum_len > 10 * n_words
              THEN 1 ELSE 0 END AS f_mwl,
         CASE WHEN 5 * n_alpha < 4 * n_words THEN 1 ELSE 0 END AS f_alpha
  FROM per_doc
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(f_wc) AS BIGINT) AS fail_wordcount,
       CAST(sum(f_mwl) AS BIGINT) AS fail_meanlen,
       CAST(sum(f_alpha) AS BIGINT) AS fail_alpha,
       count(CASE WHEN f_wc + f_mwl + f_alpha = 0 THEN 1 END) AS kept
FROM flagged GROUP BY source ORDER BY source
"""



_CURR_STAGES = 4


def corpus_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: order the corpus by a quality proxy
    (lexical diversity — distinct/total token ratio, the signal that
    actually varies on this corpus) and cut it into {S} stages of
    equal TOKEN budget, highest quality first — the data-ordering
    step of curriculum-learning pipelines (and the shape of
    quality-bucketed mixture schedules a 100 TB run trains through:
    stage 0 streams first). Emits per stage: docs, tokens, and the
    score band [lo, hi] it covers.

    No global per-doc sort: docs collapse to the DISTINCT-score
    relation (3dp grid, domain-bounded), the cumulative token walk
    runs on that bounded relation (window above an Aggregate — the
    ``value_equidepth_scalable`` discipline), and a score group lands
    in stage floor(cum_before·{S}/total) — whole score groups never
    split, the real-world curriculum contract.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    nz = F.filter("words", lambda w: F.length(w) > 0)
    per_doc = (
        doc_words(spark, sf_dir)
        .select(
            F.size(nz).cast("long").alias("n_tok"),
            F.size(F.array_distinct(nz)).cast("long").alias("n_distinct"),
        )
        .filter(F.col("n_tok") > 0)
        .select(
            "n_tok",
            (
                F.round(F.col("n_distinct") / F.col("n_tok") + 1e-9, 3) + 0.0
            ).alias("score"),
        )
    )
    per_score = per_doc.groupBy("score").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    wv = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = per_score.agg(F.sum("n_tokens").alias("total_tokens"))
    staged = (
        per_score.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(wv), F.lit(0))
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "score",
            "n_docs",
            "n_tokens",
            F.floor(
                F.col("cum_before") * _CURR_STAGES / F.col("total_tokens")
            )
            .cast("int")
            .alias("stage"),
        )
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.max("score").alias("hi_score"),
            F.min("score").alias("lo_score"),
        )
        .orderBy("stage")
    )


corpus_quality_curriculum.__doc__ = corpus_quality_curriculum.__doc__.format(
    S=_CURR_STAGES
)


CORPUS_QUALITY_CURRICULUM_SQL = f"""
WITH per_doc AS (
  SELECT n_tok, round(n_distinct / CAST(n_tok AS DOUBLE) + 1e-9, 3) + 0.0
           AS score
  FROM (
    SELECT CAST(len(nz) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(nz)) AS BIGINT) AS n_distinct
    FROM (
      SELECT list_filter(
               string_split({NORMALIZE_SQL.format(col='text')}, ' '),
               w -> length(w) > 0) AS nz
      FROM documents)
  ) WHERE n_tok > 0
),
per_score AS (
  SELECT score, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY score
),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total_tokens FROM per_score),
staged AS (
  SELECT score, n_docs, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    * {_CURR_STAGES} / tot.total_tokens) AS INT) AS stage
  FROM per_score CROSS JOIN tot
)
SELECT stage, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       max(score) AS hi_score, min(score) AS lo_score
FROM staged GROUP BY stage ORDER BY stage
"""


QUERIES = {
    "corpus_quality_curriculum": corpus_quality_curriculum,
    "text_bigram_kneser_ney": text_bigram_kneser_ney,
    "text_kn_perplexity_bands": text_kn_perplexity_bands,
    "docs_quality_logistic_gate": docs_quality_logistic_gate,
    "text_pmi_collocations": text_pmi_collocations,
    "text_mtld_diversity": text_mtld_diversity,
    "corpus_token_budget_pack": corpus_token_budget_pack,
    "corpus_dsir_importance": corpus_dsir_importance,
    "corpus_perplexity_buckets": corpus_perplexity_buckets,
    "decontaminate_vs_benchmark": decontaminate_vs_benchmark,
    "chunk_dedup_stats": chunk_dedup_stats,
    "corpus_weighted_reservoir": corpus_weighted_reservoir,
    "corpus_quality_weighted_sample": corpus_quality_weighted_sample,
    "text_repetition": text_repetition,
    "corpus_stratified_sample": corpus_stratified_sample,
    "text_unigram_lm_score": text_unigram_lm_score,
    "text_pii_scrub": text_pii_scrub,
    "corpus_curation_funnel": corpus_curation_funnel,
    "docs_ngram_novelty": docs_ngram_novelty,
    "corpus_mixture_weights": corpus_mixture_weights,
    "docs_chunked": docs_chunked,
    "docs_gopher_quality_gate": docs_gopher_quality_gate,
    "quality_gate_fairness_audit": quality_gate_fairness_audit,
}

ORACLES = {
    "corpus_quality_curriculum": CORPUS_QUALITY_CURRICULUM_SQL,
    "text_bigram_kneser_ney": TEXT_BIGRAM_KNESER_NEY_SQL,
    "text_kn_perplexity_bands": TEXT_KN_PERPLEXITY_BANDS_SQL,
    "docs_quality_logistic_gate": _qlg_oracle_sql(),
    "text_pmi_collocations": TEXT_PMI_COLLOCATIONS_SQL,
    "text_mtld_diversity": TEXT_MTLD_DIVERSITY_SQL,
    "corpus_token_budget_pack": CORPUS_TOKEN_BUDGET_PACK_SQL,
    "corpus_dsir_importance": CORPUS_DSIR_IMPORTANCE_SQL,
    "corpus_perplexity_buckets": CORPUS_PERPLEXITY_BUCKETS_SQL,
    "corpus_curation_funnel": CORPUS_CURATION_FUNNEL_SQL,
    "chunk_dedup_stats": CHUNK_DEDUP_STATS_SQL,
    "corpus_weighted_reservoir": CORPUS_WEIGHTED_RESERVOIR_SQL,
    "docs_ngram_novelty": DOCS_NGRAM_NOVELTY_SQL,
    "decontaminate_vs_benchmark": DECONTAMINATE_VS_BENCHMARK_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "corpus_stratified_sample": CORPUS_STRATIFIED_SAMPLE_SQL,
    "text_unigram_lm_score": TEXT_UNIGRAM_LM_SCORE_SQL,
    "text_pii_scrub": TEXT_PII_SCRUB_SQL,
    "corpus_mixture_weights": CORPUS_MIXTURE_WEIGHTS_SQL,
    "corpus_quality_weighted_sample": CORPUS_QUALITY_WEIGHTED_SAMPLE_SQL,
    "docs_chunked": DOCS_CHUNKED_SQL,
    "docs_gopher_quality_gate": DOCS_GOPHER_QUALITY_GATE_SQL,
    "quality_gate_fairness_audit": _fairness_oracle_sql(),
}
