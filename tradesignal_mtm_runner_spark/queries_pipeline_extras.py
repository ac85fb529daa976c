"""Training-data-pipeline operators beyond the SURVEY §2 core (C20+).

These run through the IDENTICAL DuckDB-oracle harness as every
registered query (tests/test_queries_oracle.py); which of them the
driver sees is set by ``DRIVER_WINDOW`` in queries.py.

Operators (each is what a 100 TB pre-training corpus pipeline runs):

- C20 ``contamination_check`` — benchmark-contamination scan: word
  k-gram overlap of every train doc against a (small) held-out eval
  set. Scale shape: eval n-grams are tiny by construction → broadcast
  semi-side; train side is a row-local shingle explode + one
  per-doc-key aggregate. No all-pairs, no big-big shuffle join.
- C21 ``train_val_split`` — deterministic content-independent split
  by md5(doc_id) hex bucketing (~80/10/10). Row-local, shuffle-free;
  re-runnable on any subset of the corpus with stable assignment.
- C22 ``pii_scrub`` — regex PII detection + redaction (emails / SSNs
  / phone numbers). Row-local regexp_count/regexp_replace, entirely
  JVM-side (no Python). The testdata corpus is synthetic word-soup
  with no organic PII, so the query plants a deterministic
  doc_id-derived contact string on BOTH engines first — the regexes
  are then exercised against real positives and counted/scrubbed
  identically by Spark and the DuckDB oracle.
- C23 ``embedding_quantize`` — symmetric int8 quantization of the
  embedding column: per-vector scale = max|x|/127, q = ⌊x/scale+0.5⌋
  (explicit half-up so Spark and DuckDB round identically), with
  saturation count and reconstruction MSE. Row-local array algebra;
  the 100 TB point of int8 is 4x less shuffle/storage bytes for the
  ANN operators (C8/C13/C16) downstream.
- C24 ``sequence_pack`` — GPT-style sequence packing: concatenate
  docs in deterministic order and cut at a context-window boundary,
  reported as per-pack stats. The running token cumsum is windowed
  PER SOURCE (the natural shard key), so no global single-partition
  window exists at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache_registry import persist_tracked
from .functions import text as TX
from .streaming import await_or_raise
from .queries_pipeline import SHINGLE_K, _SHINGLES_SQL, _docs, _emb

R = 9

# --- C20 contamination check ------------------------------------------------

EVAL_MOD = 97          # doc_id % EVAL_MOD == 0 -> held-out eval set (~1%)
CONTAM_MIN = 0.2       # overlap ratio at/above which a doc is flagged
WINNOW_K = 4           # winnowing k-gram width (tokens) — C46 + filter stage
WINNOW_W = 5           # winnowing window (hashes)


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per train-doc eval-set n-gram overlap (decontamination pass).

    Plan: eval distinct shingles are broadcast (small by construction:
    ~1% of docs), train shingles are a row-local array (no
    per-shingle shuffle before the semi join), overlap is one
    broadcast-join + per-doc count. Output is one row per train doc
    including zero-overlap docs.
    """
    docs = _docs(spark, sf_dir)
    sh = TX.shingle_set(F.col("text"), SHINGLE_K)
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id", sh.alias("_sh")
    )
    eval_g = (
        docs.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode(sh).alias("g"))
        .distinct()
    )
    overlap = (
        train.select("doc_id", F.explode("_sh").alias("g"))
        .join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ratio = F.when(
        F.col("n_shingles") > 0,
        F.round(F.col("n_overlap") / F.col("n_shingles"), R),
    ).otherwise(F.lit(0.0))
    return (
        train.select("doc_id", F.size("_sh").cast("long").alias("n_shingles"))
        .join(overlap, "doc_id", "left")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long"))
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            ratio.alias("contamination"),
            (ratio >= CONTAM_MIN).cast("long").alias("is_contaminated"),
        )
    )


CONTAMINATION_SQL = f"""
WITH {_SHINGLES_SQL},
ev AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0
),
tr AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % {EVAL_MOD} <> 0
),
tot AS (
  SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id
),
ov AS (
  SELECT tr.doc_id, count(*) AS n_overlap
  FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id
),
base AS (
  SELECT d.doc_id,
         coalesce(tot.n_shingles, 0) AS n_shingles,
         coalesce(ov.n_overlap, 0) AS n_overlap
  FROM documents d
  LEFT JOIN tot ON d.doc_id = tot.doc_id
  LEFT JOIN ov ON d.doc_id = ov.doc_id
  WHERE d.doc_id % {EVAL_MOD} <> 0
)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       CASE WHEN n_shingles > 0
            THEN round(CAST(n_overlap AS DOUBLE) / n_shingles, {R})
            ELSE 0.0 END AS contamination,
       CAST(CASE WHEN n_shingles > 0
                 AND round(CAST(n_overlap AS DOUBLE) / n_shingles, {R})
                     >= {CONTAM_MIN}
            THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
FROM base
"""


# --- C21 deterministic train/val/test split ---------------------------------

# first two md5 hex chars of the doc id: 256 buckets compared
# lexicographically -> 'cd' = 205/256 ~ 80.1%, 'e6' = 230/256 ~ 89.8%
TRAIN_HI = "cd"
VAL_HI = "e6"


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based split assignment: stable under corpus growth (a doc's
    split never depends on other rows), shuffle-free, and identical
    on any engine that has md5."""
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(b < TRAIN_HI, F.lit("train"))
        .when(b < VAL_HI, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", b.alias("bucket"), split.alias("split")
    )


TRAIN_VAL_SPLIT_SQL = f"""
SELECT doc_id, lang,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{TRAIN_HI}'
                 THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{VAL_HI}'
                 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


# --- C22 PII scrub ----------------------------------------------------------

PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
PII_PHONE = "555-[0-9]{4}"


def _augment_text() -> F.Column:
    """Deterministic doc_id-derived contact string appended to the
    text so the PII regexes see real positives (the synthetic corpus
    has none). The DuckDB oracle constructs the identical string."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example phone 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(
            F.lit("")
        ),
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect + redact PII patterns, all JVM-side regex (no UDF).
    Scrub order matters (emails first: their local part may contain
    digit runs); counts are taken pre-scrub."""
    aug = _augment_text()
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL, "[EMAIL]"), PII_SSN, "[SSN]"
        ),
        PII_PHONE,
        "[PHONE]",
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_count(aug, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(PII_SSN)).cast("long").alias("n_ssn"),
        F.regexp_count(aug, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrub_hash"),
        F.length(scrubbed).cast("long").alias("scrub_len"),
    )


PII_SCRUB_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example phone 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789'
                      ELSE '' END AS a
  FROM documents
),
scrub AS (
  SELECT doc_id, a,
         regexp_replace(
           regexp_replace(
             regexp_replace(a, '{PII_EMAIL}', '[EMAIL]', 'g'),
             '{PII_SSN}', '[SSN]', 'g'),
           '{PII_PHONE}', '[PHONE]', 'g') AS s
  FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(a, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(a, '{PII_SSN}')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(a, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       md5(s) AS scrub_hash,
       CAST(length(s) AS BIGINT) AS scrub_len
FROM scrub
"""


# --- C23 int8 embedding quantization ----------------------------------------

Q_EPS = 1e-12


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization. Half-up rounding is
    spelled out as floor(x/scale + 0.5) so both engines agree
    bit-for-bit (builtin round() ties differ across engines)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = _emb(spark, sf_dir).select("vec_id", v.alias("v"))
    scaled = base.select(
        "vec_id",
        "v",
        F.greatest(
            F.array_max(F.transform("v", F.abs)) / F.lit(127.0), F.lit(Q_EPS)
        ).alias("q_scale"),
    )
    s = F.col("q_scale")
    q = lambda x: F.floor(x / s + F.lit(0.5))  # noqa: E731
    return scaled.select(
        "vec_id",
        F.round(s, R).alias("q_scale"),
        F.size(F.filter("v", lambda x: F.abs(q(x)) == 127))
        .cast("long")
        .alias("n_sat"),
        F.round(
            F.aggregate(
                F.transform("v", lambda x: F.pow(x - q(x) * s, F.lit(2.0))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size("v"),
            R,
        ).alias("recon_mse"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                  {Q_EPS}) AS q_scale
  FROM v
)
SELECT vec_id,
       round(q_scale, {R}) AS q_scale,
       CAST(len(list_filter(v, x -> abs(floor(x / q_scale + 0.5)) = 127))
            AS BIGINT) AS n_sat,
       round(list_sum(list_transform(
               v, x -> pow(x - floor(x / q_scale + 0.5) * q_scale, 2.0)))
             / len(v), {R}) AS recon_mse
FROM s
"""


# --- C24 sequence packing ---------------------------------------------------

PACK_CONTEXT = 512


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack docs into context windows: deterministic order (doc_id)
    within each source shard, cut where the running token count
    crosses the boundary (a doc belongs to the pack its START offset
    falls in). The window is partitioned by source — the packing
    equivalent of per-shard streaming concatenation, so no global
    ordering is ever materialized."""
    n = F.size(TX.tokens(F.col("text")))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = _docs(spark, sf_dir).select(
        "source", "doc_id", n.cast("long").alias("n")
    )
    c = d.select(
        "source",
        "n",
        F.floor((F.sum("n").over(w) - F.col("n")) / F.lit(float(PACK_CONTEXT)))
        .cast("long")
        .alias("pack_id"),
    )
    return c.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("pack_tokens"),
    )


SEQUENCE_PACK_SQL = f"""
WITH d AS (
  SELECT source, doc_id,
         len(string_split_regex(trim(text), ' +')) AS n
  FROM documents
),
c AS (
  SELECT source, n,
         CAST(floor((sum(n) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - n)
                    / {float(PACK_CONTEXT)}) AS BIGINT) AS pack_id
  FROM d
)
SELECT source, pack_id,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS pack_tokens
FROM c
GROUP BY source, pack_id
"""


# --- C25 composed corpus filter pipeline ------------------------------------


#: winnow-overlap stage: share of a doc's winnowing fingerprints found
#: in the eval-holdout reference set at/above which it is dropped —
#: catches LONG verbatim leakage the k-shingle contamination ratio can
#: under-weigh (winnowing guarantees any >= w+k-1-token match shares a
#: fingerprint).
WINNOW_OVERLAP_MIN = 0.5


def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END preprocessing decision: every doc gets a keep flag
    and the FIRST failing stage as its drop reason, composing the
    individual operators (eval holdout -> exact dedup -> quality ->
    repetition -> lang agreement -> per-language adaptive floor ->
    contamination -> winnow overlap) in one plan. The r6 signal
    family (doc_repetition C45, doc_winnowing C46,
    quality_thresholds_by_lang C47) is wired into the composed
    keep/drop decision (VERDICT r6 item 5) — this is the artifact a
    training-data user actually ships.

    Scale shape: one md5-hash shuffle for the dup window, one
    broadcast semi join for contamination, one doc-keyed aggregate
    chain for repetition, a #languages-bounded broadcast for the
    adaptive floor, one fingerprint semi join (reference side bounded
    by the holdout) for winnow overlap — everything else row-local;
    the stages do NOT serialize into separate passes over the corpus.
    Thresholds/expressions mirror text_quality / lang_id / dedup_exact
    / doc_repetition / quality_thresholds_by_lang / doc_winnowing /
    contamination_check exactly (same rounding)."""
    from .queries_pipeline import (
        QF_MAX_TOPWORD,
        QF_MIN_UNIQ,
        QF_MIN_WORDS,
    )

    docs = _docs(spark, sf_dir)
    t = F.col("text")
    uniq_ratio = F.round(
        TX.unique_word_count(t).cast("double") / TX.word_count(t), R
    )
    topw = F.round(TX.top_word_ratio(t), R)
    quality_ok = (
        (TX.word_count(t) >= QF_MIN_WORDS)
        & (uniq_ratio >= QF_MIN_UNIQ)
        & (topw <= QF_MAX_TOPWORD)
    )
    scores = dict(TX.lang_scores(t))
    s_en, s_de, s_es, s_fr = scores["en"], scores["de"], scores["es"], scores["fr"]
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_es) & (s_en >= s_fr), F.lit("en"))
        .when((s_de >= s_es) & (s_de >= s_fr), F.lit("de"))
        .when(s_es >= s_fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    lang_ok = pred == F.col("lang")
    canonical = F.min("doc_id").over(Window.partitionBy(F.md5(t)))
    contam = contamination_check(spark, sf_dir).select(
        "doc_id", "is_contaminated"
    )
    # r6 C45: within-doc repetition signals, reused verbatim
    rep = doc_repetition(spark, sf_dir).select("doc_id", "is_repetitive")
    # r6 C47: per-language p10 floor of the unique-word-ratio score,
    # computed over the FULL corpus (same relation as the standalone
    # query); bounded by #languages -> legitimate broadcast hint
    th = (
        docs.select("lang", uniq_ratio.alias("_qs"))
        .groupBy("lang")
        .agg(F.round(F.percentile(F.col("_qs"), F.lit(0.1)), R).alias("_lang_p10"))
    )
    # r6 C46: winnowing fingerprint overlap vs the eval-holdout
    # reference set (long-verbatim-leakage guard)
    wfp = docs.select(
        "doc_id", _winnow_gram_hashes(t).alias("gh")
    ).select("doc_id", _winnow_select(F.col("gh")).alias("_fps"))
    ref = (
        wfp.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("_fps").alias("fp"))
        .distinct()
    )
    hits = (
        wfp.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select("doc_id", F.explode("_fps").alias("fp"))
        .join(ref, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    wflag = (
        wfp.select("doc_id", F.size("_fps").alias("_n_fp"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            (
                (F.col("_n_fp") > 0)
                & (
                    F.round(
                        F.coalesce(F.col("_n_hit"), F.lit(0)).cast("double")
                        / F.col("_n_fp"),
                        R,
                    )
                    >= WINNOW_OVERLAP_MIN
                )
            ).alias("_winnow_hit"),
        )
    )
    d = (
        docs.withColumn("_canon", canonical)
        .join(contam, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(F.broadcast(th), "lang")
        .join(wflag, "doc_id", "left")
    )
    # Stage order: the adaptive per-language floor gets first say on
    # quality (it is the language-fair replacement for the fixed
    # global floors, which follow as sanity gates); winnow overlap
    # (heavy verbatim copying, >=50% of fingerprints) outranks the
    # lighter shingle-contamination signal (>=20% of shingles) so the
    # stronger finding is the reported reason.
    reason = (
        F.when(F.col("doc_id") % EVAL_MOD == 0, F.lit("eval_holdout"))
        .when(F.col("doc_id") != F.col("_canon"), F.lit("duplicate"))
        .when(uniq_ratio < F.col("_lang_p10"), F.lit("below_lang_floor"))
        .when(~quality_ok, F.lit("low_quality"))
        .when(
            F.coalesce(F.col("is_repetitive"), F.lit(False)),
            F.lit("repetitive"),
        )
        .when(~lang_ok, F.lit("lang_mismatch"))
        .when(
            F.coalesce(F.col("_winnow_hit"), F.lit(False)),
            F.lit("winnow_overlap"),
        )
        .when(
            F.coalesce(F.col("is_contaminated"), F.lit(0)) == 1,
            F.lit("contaminated"),
        )
        .otherwise(F.lit("kept"))
    )
    return d.select(
        "doc_id",
        reason.alias("drop_reason"),
        (reason == "kept").cast("long").alias("keep"),
    )


CORPUS_FILTER_SQL = f"""
WITH {_SHINGLES_SQL},
ev AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0
),
tr AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % {EVAL_MOD} <> 0
),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
ov AS (
  SELECT tr.doc_id, count(*) AS n_overlap
  FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id
),
contam AS (
  SELECT tot.doc_id,
         CASE WHEN tot.n_shingles > 0
              AND round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE)
                        / tot.n_shingles, {R}) >= {CONTAM_MIN}
              THEN 1 ELSE 0 END AS is_contaminated
  FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id
),
toq AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
q AS (
  SELECT doc_id,
         (len(t) >= {{qf_min_words}}
          AND round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), {R})
              >= {{qf_min_uniq}}
          AND round(CAST(list_max(list_transform(list_distinct(t),
                w -> len(list_filter(t, x -> x = w)))) AS DOUBLE) / len(t),
                {R}) <= {{qf_max_topword}}) AS quality_ok
  FROM toq
),
l AS (
  SELECT doc_id,
         (CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END = lang) AS lang_ok
  FROM (
    SELECT d.doc_id, d.lang,
      CAST(len(list_filter(t, w -> list_contains({{sw_en}}, w))) AS DOUBLE) / len(t) AS s_en,
      CAST(len(list_filter(t, w -> list_contains({{sw_de}}, w))) AS DOUBLE) / len(t) AS s_de,
      CAST(len(list_filter(t, w -> list_contains({{sw_es}}, w))) AS DOUBLE) / len(t) AS s_es,
      CAST(len(list_filter(t, w -> list_contains({{sw_fr}}, w))) AS DOUBLE) / len(t) AS s_fr
    FROM documents d JOIN toq USING (doc_id)
  )
),
dup AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canon
  FROM documents
),
rgrams AS (
  SELECT doc_id, g.g AS gram
  FROM toq, UNNEST(
    list_concat(
      list_transform(t, x -> 'u:' || x),
      list_concat(
        CASE WHEN len(t) >= 2
             THEN list_transform(range(1, len(t)),
                                 i -> 'b:' || t[i] || ' ' || t[i+1])
             ELSE [] END,
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> 't:' || t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE [] END))) AS g(g)
),
rpg AS (
  SELECT doc_id, substring(gram, 1, 1) AS kind, gram, count(*) AS cnt
  FROM rgrams GROUP BY 1, 2, 3
),
rpk AS (
  SELECT doc_id, kind, sum(cnt) AS total, max(cnt) AS top,
         count(*) AS n_distinct
  FROM rpg GROUP BY 1, 2
),
rep AS (
  SELECT doc_id,
    (round(max(CASE WHEN kind = 'u' THEN CAST(top AS DOUBLE) / total END), {R}) > 0.25
     OR round(COALESCE(max(CASE WHEN kind = 'b' THEN CAST(top AS DOUBLE) / total END), 0.0), {R}) > 0.18
     OR round(COALESCE(max(CASE WHEN kind = 't' THEN 1.0 - CAST(n_distinct AS DOUBLE) / total END), 0.0), {R}) > 0.30)
      AS is_repetitive
  FROM rpk GROUP BY doc_id
),
qs AS (
  SELECT doc_id,
         round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), {R}) AS qs
  FROM toq
),
lth AS (
  SELECT d.lang, round(quantile_cont(qs.qs, 0.1), {R}) AS lang_p10
  FROM documents d JOIN qs USING (doc_id) GROUP BY d.lang
),
wgh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= {WINNOW_K}
         THEN list_transform(range(1, len(t) - {WINNOW_K} + 2),
              i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [] END AS gh
  FROM toq
),
wsel AS (
  SELECT doc_id,
    CASE WHEN len(gh) >= {WINNOW_W}
         THEN list_sort(list_distinct(
              list_transform(range(1, len(gh) - {WINNOW_W} + 2),
                             i -> list_min(gh[i : i + {WINNOW_W} - 1]))))
         ELSE [] END AS fps
  FROM wgh
),
wref AS (
  SELECT DISTINCT f.fp FROM wsel, UNNEST(fps) AS f(fp)
  WHERE doc_id % {EVAL_MOD} = 0
),
wtr AS (
  SELECT doc_id, f.fp FROM wsel, UNNEST(fps) AS f(fp)
  WHERE doc_id % {EVAL_MOD} <> 0
),
whit AS (
  SELECT wtr.doc_id, count(*) AS n_hit FROM wtr JOIN wref USING (fp)
  GROUP BY wtr.doc_id
),
wflag AS (
  SELECT wsel.doc_id,
         (len(fps) > 0
          AND round(CAST(coalesce(whit.n_hit, 0) AS DOUBLE) / len(fps), {R})
              >= {WINNOW_OVERLAP_MIN}) AS winnow_hit
  FROM wsel LEFT JOIN whit USING (doc_id)
),
decided AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % {EVAL_MOD} = 0 THEN 'eval_holdout'
              WHEN d.doc_id <> dup.canon THEN 'duplicate'
              WHEN qs.qs < lth.lang_p10 THEN 'below_lang_floor'
              WHEN NOT q.quality_ok THEN 'low_quality'
              WHEN rep.is_repetitive THEN 'repetitive'
              WHEN NOT l.lang_ok THEN 'lang_mismatch'
              WHEN wflag.winnow_hit THEN 'winnow_overlap'
              WHEN coalesce(contam.is_contaminated, 0) = 1 THEN 'contaminated'
              ELSE 'kept' END AS drop_reason
  FROM documents d
  JOIN dup USING (doc_id)
  JOIN q USING (doc_id)
  JOIN qs USING (doc_id)
  JOIN l USING (doc_id)
  JOIN rep USING (doc_id)
  JOIN lth ON lth.lang = d.lang
  JOIN wflag ON wflag.doc_id = d.doc_id
  LEFT JOIN contam USING (doc_id)
)
SELECT doc_id, drop_reason,
       CAST(drop_reason = 'kept' AS BIGINT) AS keep
FROM decided
"""

from .queries_pipeline import (  # noqa: E402
    QF_MAX_TOPWORD as _QF_MAX_TOPWORD,
    QF_MIN_UNIQ as _QF_MIN_UNIQ,
    QF_MIN_WORDS as _QF_MIN_WORDS,
    _SW,
)

CORPUS_FILTER_SQL = CORPUS_FILTER_SQL.format(
    qf_min_words=_QF_MIN_WORDS,
    qf_min_uniq=_QF_MIN_UNIQ,
    qf_max_topword=_QF_MAX_TOPWORD,
    sw_en=_SW["en"],
    sw_de=_SW["de"],
    sw_es=_SW["es"],
    sw_fr=_SW["fr"],
)


# --- C26 deterministic stratified sampling ----------------------------------

SAMPLE_RATES = {"en": 0.5, "de": 1.0, "es": 0.25, "fr": 0.1}
SAMPLE_DEFAULT_RATE = 0.05
_SAMPLE_BUCKETS = 65536


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rebalancing: keep a doc iff its salted md5
    bucket falls under the language's rate threshold. Row-local and
    content-independent (re-runs and corpus growth never flip an
    existing doc's fate); the filter rides the scan at any scale."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    thr = F.lit(int(SAMPLE_DEFAULT_RATE * _SAMPLE_BUCKETS))
    for lg, rate in SAMPLE_RATES.items():
        thr = F.when(F.col("lang") == lg, int(rate * _SAMPLE_BUCKETS)).otherwise(
            thr
        )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", bucket.alias("bucket"), thr.alias("_thr"))
        .filter(F.col("bucket") < F.col("_thr"))
        .select("doc_id", "lang", "bucket")
    )


_SAMPLE_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lg}' THEN {int(rate * _SAMPLE_BUCKETS)}"
    for lg, rate in SAMPLE_RATES.items()
) + f" ELSE {int(SAMPLE_DEFAULT_RATE * _SAMPLE_BUCKETS)} END"

STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang,
       ('0x' || substr(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
         AS bucket
FROM documents
WHERE ('0x' || substr(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
      < {_SAMPLE_CASE}
"""


# --- C27 corpus n-gram counts -----------------------------------------------

NGRAM_MAX_N = 3
NGRAM_MIN_COUNT = 3
NGRAM_TOPK = 40


def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram language-model counts (n = 1..3): total
    occurrences + document frequency, pruned to count >=
    NGRAM_MIN_COUNT, top-K per n.

    Scale shape: the three n-gram streams are one union of row-local
    explodes feeding a single two-level aggregate (per-(doc,n,gram)
    then per-(n,gram)) — both levels partial-aggregate map-side, and
    doc_freq is a plain count, never a count(DISTINCT) expand. The
    min-count prune runs BEFORE the per-n rank window (the standard
    LM-count practice), so the window input is the pruned vocabulary,
    not the raw corpus; the window partitions by n."""
    d = _docs(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    streams = [
        d.select(
            "doc_id",
            F.lit(n).alias("n"),
            F.explode(TX.shingles(toks, n)).alias("ngram"),
        )
        for n in range(1, NGRAM_MAX_N + 1)
    ]
    grams = streams[0]
    for s in streams[1:]:
        grams = grams.unionAll(s)
    per_doc = grams.groupBy("doc_id", "n", "ngram").agg(
        F.count(F.lit(1)).alias("c")
    )
    counts = (
        per_doc.groupBy("n", "ngram")
        .agg(
            F.sum("c").alias("total_count"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
        .filter(F.col("total_count") >= NGRAM_MIN_COUNT)
    )
    w = Window.partitionBy("n").orderBy(
        F.desc("total_count"), F.asc("ngram")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NGRAM_TOPK)
        .select(
            F.col("n").cast("int").alias("n"),
            "ngram",
            F.col("total_count").cast("long").alias("total_count"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _ngram_stream_sql(n: int) -> str:
    if n == 1:
        return """
  SELECT doc_id, 1 AS n, u.g AS ngram
  FROM toks, UNNEST(t) AS u(g)"""
    parts = ", ".join(f"t[i+{j}]" for j in range(n))
    return f"""
  SELECT doc_id, {n} AS n, u.g AS ngram
  FROM toks, UNNEST(
    CASE WHEN len(t) >= {n}
         THEN list_transform(range(1, len(t) - {n} + 2),
                             i -> concat_ws(' ', {parts}))
         ELSE [] END) AS u(g)"""


NGRAM_COUNTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
grams AS ({" UNION ALL ".join(_ngram_stream_sql(n) for n in range(1, NGRAM_MAX_N + 1))}),
per_doc AS (
  SELECT doc_id, n, ngram, count(*) AS c FROM grams GROUP BY doc_id, n, ngram
),
counts AS (
  SELECT n, ngram, sum(c) AS total_count, count(*) AS doc_freq
  FROM per_doc GROUP BY n, ngram
  HAVING sum(c) >= {NGRAM_MIN_COUNT}
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY n
             ORDER BY total_count DESC, ngram ASC) AS rank
  FROM counts
)
SELECT CAST(n AS INT) AS n, ngram,
       CAST(total_count AS BIGINT) AS total_count,
       CAST(doc_freq AS BIGINT) AS doc_freq,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= {NGRAM_TOPK}
"""


# --- C28 substring-level dedup ----------------------------------------------

SPAN_K = 8           # tokens per rolling span
SPAN_FLAG_RATIO = 0.5


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring (span-level) duplication, the hash-based stand-in for
    the suffix-array dedup of Lee et al. "Deduplicating Training Data
    Makes Language Models Better": every rolling SPAN_K-token window
    is hashed; a span occurring >= 2 times corpus-wide is duplicated;
    per doc, the duplicated windows are merged into maximal intervals
    and reported as token coverage.

    Scale shape: rolling hashes are ROW-LOCAL (one shingle transform,
    no per-token explode before hashing); the global duplicate test
    is one partial-aggregable count per hash; flagged positions come
    back via an equi-join on the hash; the interval merge is a
    per-doc window (islands by running max end). Three shuffles
    total, each keyed well — the hash-count shuffle is the honest
    price of corpus-wide substring matching (it replaces the
    suffix array's global sort)."""
    docs = _docs(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.posexplode(TX.shingles(toks, SPAN_K)).alias("pos0", "gram"),
    )
    spans = base.select(
        "doc_id",
        "n_toks",
        (F.col("pos0") + 1).alias("pos"),  # 1-based, matches the oracle
        F.md5("gram").alias("h"),
    )
    hot = (
        spans.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h")
    )
    flagged = spans.join(hot, "h").select(
        "doc_id",
        "n_toks",
        F.col("pos").alias("start"),
        (F.col("pos") + SPAN_K - 1).alias("end"),
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = Window.partitionBy("doc_id").orderBy("start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = flagged.withColumn(
        "_new",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end), 1
        ).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(cum))
    merged = isl.groupBy("doc_id", "_isl").agg(
        F.first("n_toks").alias("n_toks"),
        F.count(F.lit(1)).alias("n_grams"),
        (F.max("end") - F.min("start") + 1).alias("_len"),
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.first("n_toks").alias("_nt"),
        F.sum("n_grams").cast("long").alias("n_dup_grams"),
        F.count(F.lit(1)).cast("long").alias("n_dup_regions"),
        F.sum("_len").cast("long").alias("dup_tokens"),
    )
    all_docs = docs.select("doc_id", F.size(toks).cast("long").alias("n_toks"))
    out = all_docs.join(per_doc.drop("_nt"), "doc_id", "left")
    ratio = F.round(
        F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_toks"), R
    )
    return out.select(
        "doc_id",
        "n_toks",
        F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        F.coalesce("n_dup_regions", F.lit(0)).cast("long").alias("n_dup_regions"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        ratio.alias("dup_ratio"),
        (ratio >= SPAN_FLAG_RATIO).cast("long").alias("mostly_duplicated"),
    )


_SPAN_PARTS = ", ".join(f"t[i+{j}]" for j in range(SPAN_K))

DEDUP_SUBSTRING_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
spans AS (
  SELECT doc_id, len(t) AS n_toks, u.i AS pos,
         md5(concat_ws(' ', {_SPAN_PARTS})) AS h
  FROM toks, UNNEST(
    CASE WHEN len(t) >= {SPAN_K}
         THEN range(1, len(t) - {SPAN_K} + 2) ELSE [] END) AS u(i)
),
hot AS (
  SELECT h FROM spans GROUP BY h HAVING count(*) >= 2
),
flagged AS (
  SELECT doc_id, n_toks, pos AS strt, pos + {SPAN_K} - 1 AS e
  FROM spans JOIN hot USING (h)
),
isl AS (
  SELECT doc_id, n_toks, strt, e,
         sum(CASE WHEN pme IS NULL OR strt > pme THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY strt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM (
    SELECT doc_id, n_toks, strt, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY strt
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS pme
    FROM flagged
  )
),
merged AS (
  SELECT doc_id, isl_id, any_value(n_toks) AS n_toks,
         count(*) AS n_grams, max(e) - min(strt) + 1 AS ln
  FROM isl GROUP BY doc_id, isl_id
),
per_doc AS (
  SELECT doc_id, sum(n_grams) AS n_dup_grams,
         count(*) AS n_dup_regions, sum(ln) AS dup_tokens
  FROM merged GROUP BY doc_id
),
alldocs AS (
  SELECT doc_id, len(string_split_regex(trim(text), ' +')) AS n_toks
  FROM documents
)
SELECT a.doc_id,
       CAST(a.n_toks AS BIGINT) AS n_toks,
       CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(p.n_dup_regions, 0) AS BIGINT) AS n_dup_regions,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / a.n_toks, {R})
         AS dup_ratio,
       CAST(round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / a.n_toks, {R})
            >= {SPAN_FLAG_RATIO} AS BIGINT) AS mostly_duplicated
FROM alldocs a LEFT JOIN per_doc p ON a.doc_id = p.doc_id
"""


# --- C29 BPE merge training --------------------------------------------------

BPE_MERGES = 6


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training: N_MERGES rounds of
    (count adjacent symbol pairs over the weighted vocab) -> (merge
    the most frequent pair everywhere). Output is the learned merge
    table (step, pair, merged, pair_count).

    Scale shape: training runs on the WEIGHTED VOCAB (word, freq) —
    one corpus-sized aggregate up front, then each round is one
    partial-aggregable pair count over the vocab relation plus a
    row-local merge application. The per-round top-1 is a collected
    scalar (tiny, like the IVF centroids). Iterations materialize via
    cache, so round k doesn't replay rounds 1..k-1.

    Determinism contract with the DuckDB oracle (unrolled-CTE
    mirror): integer pair counts, ties broken on the pair string, and
    the merge is applied as THREE passes of left-to-right
    non-overlapping string replace on the space-joined symbol string
    — both engines scan identically, and 3 passes equal canonical
    greedy merging for same-pair runs up to length 8 (longer runs
    don't occur in the corpus; the cap keeps the expression finite
    for SQL)."""
    return spark.createDataFrame(
        _bpe_learn(spark, sf_dir),
        "step int, pair string, merged string, pair_count long",
    )


def _bpe_learn(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The BPE_MERGES training rounds; returns the merge rules
    [(step, pair, merged, pair_count)] for bpe_train's output and
    bpe_apply's segmentation chain."""
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = vocab.select(
        "freq", F.array_join(F.split("word", ""), " ").alias("sym")
    ).cache()
    rules = []
    for step in range(1, BPE_MERGES + 1):
        t = F.split("sym", " ")
        pair_arr = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        top = (
            cur.select("freq", F.explode(pair_arr).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, count = top[0]["pair"], int(top[0]["c"])
        merged = pair.replace(" ", "")
        rules.append((step, pair, merged, count))
        pat, rep = F.lit(f" {pair} "), F.lit(f" {merged} ")
        padded = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
        for _ in range(3):
            padded = F.replace(padded, pat, rep)
        nxt = cur.select("freq", F.trim(padded).alias("sym")).cache()
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return rules


def _bpe_iter_sql(k: int) -> str:
    prev = f"v{k - 1}"
    rep3 = (
        "' ' || sym || ' '"
    )
    for _ in range(3):
        rep3 = (
            f"replace({rep3}, ' ' || r{k}.pair || ' ', "
            f"' ' || replace(r{k}.pair, ' ', '') || ' ')"
        )
    return f"""
p{k} AS (
  SELECT pair, sum(freq) AS c,
         row_number() OVER (ORDER BY sum(freq) DESC, pair ASC) AS rk
  FROM (
    SELECT freq, u.p AS pair
    FROM (SELECT freq, string_split(sym, ' ') AS t FROM {prev}),
         UNNEST(CASE WHEN len(t) >= 2
                     THEN list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])
                     ELSE [] END) AS u(p)
  )
  GROUP BY pair
),
r{k} AS (SELECT pair, c FROM p{k} WHERE rk = 1),
v{k} AS (
  SELECT freq, trim({rep3}) AS sym FROM {prev}, r{k}
)"""


_BPE_ITERS_SQL = ",".join(_bpe_iter_sql(k) for k in range(1, BPE_MERGES + 1))

_BPE_RULES_SQL = "\nUNION ALL\n".join(
    f"SELECT {k} AS step, pair, replace(pair, ' ', '') AS merged, "
    f"CAST(c AS BIGINT) AS pair_count FROM r{k}"
    for k in range(1, BPE_MERGES + 1)
)

BPE_TRAIN_SQL = f"""
WITH w AS (
  SELECT u.w AS word, count(*) AS freq
  FROM (SELECT string_split_regex(trim(text), ' +') AS t FROM documents),
       UNNEST(t) AS u(w)
  WHERE u.w <> ''
  GROUP BY u.w
),
v0 AS (
  SELECT freq,
         array_to_string(list_transform(range(1, length(word) + 1),
                                        i -> substr(word, i, 1)), ' ') AS sym
  FROM w
),
{_BPE_ITERS_SQL}
SELECT CAST(step AS INT) AS step, pair, merged, pair_count
FROM ({_BPE_RULES_SQL})
"""


# --- C34 BPE apply (tokenize with the trained merges) -------------------------


def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the C29-trained merge table: per doc,
    the word count, the resulting subword count, and the average
    subwords-per-word (the compression the tokenizer achieves).

    Scale shape — the standard tokenizer-at-scale layout: segmentation
    runs once per DISTINCT word (vocab relation, tiny next to the
    corpus), as a row-local chain of the N trained merges (string
    replaces, whole-stage codegen, no Python); documents then join the
    segmented vocab on the word key — one token-keyed equi-join — and
    aggregate per doc. The merge rules themselves are a driver-side
    list (N rows, like the IVF centroids), so the apply chain compiles
    into the plan instead of shuffling a rules table."""
    rules = _bpe_learn(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    words = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    seg = words.select(
        "word", F.array_join(F.split("word", ""), " ").alias("sym")
    )
    for _step, pair, merged, _cnt in rules:
        pat, rep = F.lit(f" {pair} "), F.lit(f" {merged} ")
        padded = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
        for _ in range(3):
            padded = F.replace(padded, pat, rep)
        seg = seg.select("word", F.trim(padded).alias("sym"))
    vocab_seg = seg.select(
        "word", F.size(F.split("sym", " ")).cast("long").alias("n_sub")
    )
    docw = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    return (
        docw.join(vocab_seg, on="word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subtokens"),
            F.round(F.sum("n_sub") / F.count(F.lit(1)), R).alias(
                "avg_sub_per_word"
            ),
        )
    )


def _bpe_apply_iter_sql(k: int) -> str:
    prev = f"a{k - 1}"
    rep3 = "' ' || sym || ' '"
    for _ in range(3):
        rep3 = (
            f"replace({rep3}, ' ' || r{k}.pair || ' ', "
            f"' ' || replace(r{k}.pair, ' ', '') || ' ')"
        )
    return f"""
a{k} AS (
  SELECT word, trim({rep3}) AS sym FROM {prev}, r{k}
)"""


BPE_APPLY_SQL = f"""
WITH w AS (
  SELECT u.w AS word, count(*) AS freq
  FROM (SELECT string_split_regex(trim(text), ' +') AS t FROM documents),
       UNNEST(t) AS u(w)
  WHERE u.w <> ''
  GROUP BY u.w
),
v0 AS (
  SELECT freq,
         array_to_string(list_transform(range(1, length(word) + 1),
                                        i -> substr(word, i, 1)), ' ') AS sym
  FROM w
),
{_BPE_ITERS_SQL},
a0 AS (
  SELECT word,
         array_to_string(list_transform(range(1, length(word) + 1),
                                        i -> substr(word, i, 1)), ' ') AS sym
  FROM w
),
{",".join(_bpe_apply_iter_sql(k) for k in range(1, BPE_MERGES + 1))},
vocab_seg AS (
  SELECT word, len(string_split(sym, ' ')) AS n_sub FROM a{BPE_MERGES}
),
docw AS (
  SELECT doc_id, u.w AS word
  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS t
        FROM documents),
       UNNEST(t) AS u(w)
  WHERE u.w <> ''
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
       round(CAST(sum(n_sub) AS DOUBLE) / count(*), {R}) AS avg_sub_per_word
FROM docw JOIN vocab_seg USING (word)
GROUP BY doc_id
"""


# --- C30 product-quantization ANN --------------------------------------------

from .queries_pipeline import ANN_QUERIES, ANN_TOPK, _V_SQL

PQ_M = 4          # subspaces
PQ_K = 8          # codes per subspace
EMB_DIM = 64      # testdata embedding dim (oracle needs the literal)
PQ_SUB = EMB_DIM // PQ_M


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC scoring): corpus compressed to
    PQ_M codebook codes per vector, queries ship broadcast M x K
    lookup tables, approx distance = M array lookups per pair. See
    operators/similarity.pq_topk for the 100 TB plan shape (closure
    codebooks, no shuffle in encode, code relation ~8 bytes/row)."""
    from .operators.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return pq_topk(
        emb,
        queries,
        k=ANN_TOPK,
        num_subspaces=PQ_M,
        num_codes=PQ_K,
        round_digits=R,
    )


_PQ_DIFF = f"list_transform(range(1, {PQ_SUB + 1}), i -> v.e[cb.m * {PQ_SUB} + i] - cb.w[i])"

ANN_PQ_SQL = f"""
WITH {_V_SQL},
seed0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {PQ_K}),
seed AS (SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM seed0),
cb AS (
  SELECT t.m, s.code,
         list_transform(range(1, {PQ_SUB + 1}), i -> s.e[t.m * {PQ_SUB} + i]) AS w
  FROM seed s CROSS JOIN (SELECT range AS m FROM range({PQ_M})) t
),
encd AS (
  SELECT v.vec_id, cb.m, cb.code, {_PQ_DIFF} AS d
  FROM v CROSS JOIN cb
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY round(list_dot_product(d, d), {R}) ASC, code ASC) AS rn
    FROM encd
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, m, code, round(list_dot_product(d, d), {R}) AS dist
  FROM encd WHERE vec_id < {ANN_QUERIES}
),
scored AS (
  SELECT l.query_id, e.vec_id AS corpus_id, round(sum(l.dist), {R}) AS approx_dist
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code AND e.vec_id != l.query_id
  GROUP BY l.query_id, e.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_dist ASC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, approx_dist, CAST(rank AS INT) AS rank FROM r WHERE rank <= {ANN_TOPK}
"""


# --- C30b PQ + exact re-rank (the production IVF-PQ retrieval shape) --------

#: ADC shortlist size = k * factor; the re-rank then scores ONLY the
#: shortlist exactly. The two-stage shape is what production PQ
#: deployments run: compressed codes prune the corpus, the exact pass
#: restores ranking quality on a bounded candidate set. 40 here is
#: sized to THIS oracle's deliberately coarse quantizer (M=4
#: subspaces x K=8 codes — tiny so the unrolled-SQL oracle stays
#: tractable): shortlist = 200 of ~5000 vectors (96% pruned) buys
#: recall@5 0.96 vs 0.20 for ADC alone. A production M=16 x K=256
#: codebook needs factor ~4-10 for the same recall.
PQ_RERANK_FACTOR = 40


def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC shortlist (k x {PQ_RERANK_FACTOR} candidates from the
    compressed codes — cheap, code relation ~bytes/vector) followed by
    an EXACT cosine re-rank of just that shortlist. Recall vs the
    brute-force baseline at sf0.01: 0.20 (ADC alone, C30) -> 0.96
    (floor pinned in tests) while the corpus is still 96% pruned
    before any exact math — at 100 TB the full vectors for the
    shortlist arrive via one bounded join, never a corpus scan per
    query."""
    from .operators.similarity import pq_rerank_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return pq_rerank_topk(
        emb,
        queries,
        k=ANN_TOPK,
        shortlist=ANN_TOPK * PQ_RERANK_FACTOR,
        num_subspaces=PQ_M,
        num_codes=PQ_K,
        round_digits=R,
    )


ANN_PQ_RERANK_SQL = (
    ANN_PQ_SQL.replace(
        f"SELECT query_id, corpus_id, approx_dist, CAST(rank AS INT) AS rank "
        f"FROM r WHERE rank <= {ANN_TOPK}",
        f""", cand AS (
  SELECT query_id, corpus_id FROM r
  WHERE rank <= {ANN_TOPK * PQ_RERANK_FACTOR}
),
rr AS (
  SELECT c.query_id, c.corpus_id,
         round(list_dot_product(q.e, t.e)
               / (sqrt(list_dot_product(q.e, q.e))
                  * sqrt(list_dot_product(t.e, t.e))), {R}) AS cosine
  FROM cand c
  JOIN v q ON q.vec_id = c.query_id
  JOIN v t ON t.vec_id = c.corpus_id
),
rr2 AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM rr
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank
FROM rr2 WHERE rank <= {ANN_TOPK}""",
    )
)


# --- C44 embedding-space outlier screening ----------------------------------

#: per-dimension centroid rounding (same trick as the Lloyd training:
#: both engines round the corpus means so the downstream cosine math
#: starts from identical literals, immune to summation-order drift)
OUT_MEAN_ROUND = 6
#: flag vectors whose cosine to the corpus centroid is below this
OUT_TAU = 0.5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screening — the embedding-side analog
    of the text quality filters: score every vector by cosine to the
    CORPUS CENTROID and flag the far tail (mis-embedded, corrupt, or
    off-distribution items; the cheap first pass before anything like
    per-cluster filtering). Scale shape: one per-dimension avg
    aggregate reduces the corpus to EMB_DIM rows, the rounded centroid
    rides the scoring expression as a literal (closure, no join, no
    shuffle — same pattern as IVF assignment), so the scoring pass is
    a pure projection over the scan."""
    from .operators.similarity import _dot, _norm, with_double_vec

    v = with_double_vec(_emb(spark, sf_dir), "embedding")
    mean_rows = (
        v.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.round(F.avg("x"), OUT_MEAN_ROUND).alias("m"))
        .collect()
    )
    mean = [0.0] * EMB_DIM
    for r in mean_rows:
        mean[int(r["pos"])] = float(r["m"])
    c = F.array(*[F.lit(x) for x in mean])
    cos = F.round(
        _dot(F.col("embedding"), c) / (_norm(F.col("embedding")) * _norm(c)),
        R,
    )
    return v.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        cos.alias("centroid_cos"),
        (cos < OUT_TAU).alias("is_outlier"),
    )


EMBEDDING_OUTLIERS_SQL = f"""
WITH {_V_SQL},
m AS (
  SELECT r.i AS pos, round(avg(v.e[r.i]), {OUT_MEAN_ROUND}) AS m
  FROM v, UNNEST(range(1, {EMB_DIM} + 1)) AS r(i)
  GROUP BY r.i
),
c AS (SELECT list(m ORDER BY pos) AS w FROM m),
scored AS (
  SELECT v.vec_id,
         round(list_dot_product(v.e, c.w)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(c.w, c.w))), {R}) AS centroid_cos
  FROM v CROSS JOIN c
)
SELECT vec_id, centroid_cos, centroid_cos < {OUT_TAU} AS is_outlier
FROM scored
"""


# --- C31 SemDeDup-style semantic dedup ---------------------------------------

SEM_CELLS = 8
SEM_TAU = 0.3


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023 shape): cluster
    embeddings into Voronoi cells (deterministic seed centroids, one
    closure-based Arrow assignment pass — no shuffle), then WITHIN each
    cell drop every doc that has a strictly-lower-id neighbor at
    rounded cosine >= SEM_TAU. Candidate pairs are per-cell, so the
    all-pairs product never materializes — per-cell cost is the scale
    knob (more cells => smaller cells), exactly the property a 100 TB
    corpus needs. Greedy keep-min-id is the paper's keep-one-per-
    epsilon-ball rule; transitive-closure canonicalization is the
    separate dedup_connected operator (C17)."""
    from .operators.similarity import (
        _assign_cells,
        _centroid,
        _dot,
        _fan_out,
        _norm,
        with_double_vec,
    )

    emb = _emb(spark, sf_dir)
    cent_rows = (
        with_double_vec(emb, "embedding")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(SEM_CELLS)
        .collect()
    )
    cents = [
        _centroid(int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cent_rows
    ]
    base = with_double_vec(_fan_out(emb), "embedding").select(
        F.col("vec_id"), F.col("embedding").alias("_v")
    )
    assigned = _assign_cells(base, cents, "vec_id", "_v", R).drop("cell_cos")
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"), "cell"
    ).withColumn("_na", _norm(F.col("_va")))
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"), "cell"
    ).withColumn("_nb", _norm(F.col("_vb")))
    pairs = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), R
            ).alias("_cos"),
        )
    )
    dup = (
        pairs.filter(F.col("_cos") >= SEM_TAU)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
        .withColumnRenamed("id_b", "vec_id")
    )
    return (
        assigned.select("vec_id", "cell")
        .join(F.broadcast(dup), on="vec_id", how="left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "dup_of",
            F.col("dup_of").isNull().alias("is_kept"),
        )
    )


DEDUP_SEMANTIC_SQL = f"""
WITH {_V_SQL},
cent AS (SELECT vec_id AS cent_id, e AS w FROM v ORDER BY vec_id LIMIT {SEM_CELLS}),
ca AS (
  SELECT v.vec_id, c.cent_id,
         round(list_dot_product(v.e, c.w)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.w, c.w))), {R}) AS cos
  FROM v CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM ca
  ) WHERE rn = 1
),
av AS (SELECT a.vec_id, a.cell, v.e FROM assign a JOIN v ON v.vec_id = a.vec_id),
pr AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         round(list_dot_product(x.e, y.e)
               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), {R}) AS c
  FROM av x JOIN av y ON x.cell = y.cell AND x.vec_id < y.vec_id
),
dup AS (SELECT id_b AS vec_id, min(id_a) AS dup_of FROM pr WHERE c >= {SEM_TAU} GROUP BY id_b)
SELECT a.vec_id, CAST(a.cell AS INT) AS cell, d.dup_of, d.dup_of IS NULL AS is_kept
FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
"""


# --- A14 streaming exact dedup ----------------------------------------------

import itertools as _it

_DEDUP_SINK_SEQ = _it.count()
STREAM_DEDUP_WATERMARK = "30 days"


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup of the event stream on (user_id,
    event_type) via dropDuplicatesWithinWatermark: state is bounded
    by the watermark horizon (the dedup-memory knob at 100 TB — an
    entry older than the horizon is evictable). Only the key columns
    are emitted, so replay-equals-batch-DISTINCT exactly; the
    watermark is set wider than the bounded replay's event-time span
    so the oracle equivalence is exact."""
    from .sources import stream_table

    ev = stream_table(spark, sf_dir, "events")
    dedup = (
        ev.withWatermark("ts", STREAM_DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    sink = f"stream_dedup_sink_{next(_DEDUP_SINK_SEQ)}"
    q = (
        dedup.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return spark.table(sink).select(
        F.col("user_id").cast("long").alias("user_id"), "event_type"
    )


STREAM_DEDUP_SQL = """
SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type FROM events
"""


# --- A18 stream-stream interval join -----------------------------------------

_SJOIN_SINK_SEQ = _it.count()
STREAM_JOIN_WATERMARK = "30 days"
STREAM_JOIN_HORIZON = "1 hour"


def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: every purchase joined
    to the same user's clicks within the following hour. The join
    condition carries BOTH the key equality and the event-time range,
    so Structured Streaming can bound each side's state buffer by
    watermark + horizon — the property that keeps a 100 TB/day
    stream-stream join's state finite (without the time bound the
    state grows unboundedly and the join is rejected in append mode).
    Replay == the batch interval join, which is the DuckDB oracle."""
    from .sources import stream_table

    p = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_event_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", STREAM_JOIN_WATERMARK)
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", STREAM_JOIN_WATERMARK)
    )
    joined = p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts "
            f"AND c_ts <= p_ts + INTERVAL {STREAM_JOIN_HORIZON}"
        ),
        "inner",
    )
    sink = f"stream_join_sink_{next(_SJOIN_SINK_SEQ)}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return spark.table(sink).select(
        F.col("p_user").cast("long").alias("user_id"),
        "p_event_id",
        "c_event_id",
        "p_ts",
        "c_ts",
        F.round("p_value", R).alias("p_value"),
    )


STREAM_JOIN_SQL = """
SELECT CAST(p.user_id AS BIGINT) AS user_id,
       p.event_id AS p_event_id,
       c.event_id AS c_event_id,
       p.ts AS p_ts,
       c.ts AS c_ts,
       round(p.value, 9) AS p_value
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def _staged_sentinel_stream(spark: SparkSession, ev: DataFrame, prefix: str):
    """The sentinel-staged finite replay shared by the LEFT OUTER and
    FULL OUTER stream-stream joins (review r12: previously duplicated
    ~50 lines apart, so fixes could not propagate): write the events
    once, add one sentinel row PER STREAM 40 d out (> watermark 30 d +
    horizon 1 h, unjoinable user −1, > horizon apart so the two
    sentinels cannot join each other), and stage a streaming dir where
    every data file is older (mtime) than the sentinel file with
    maxFilesPerTrigger = #data files — batch 1 = data, batch 2 =
    sentinels, the final no-data batch evicts and emits every
    outer row. Returns the streaming DataFrame, or None when the
    events table is EMPTY (max(ts) is None — no sentinel epoch exists;
    callers return their typed empty frame instead of crashing)."""
    import glob as _glob
    import time as _time
    from datetime import timedelta

    from .cache_registry import tracked_mkdtemp

    root = tracked_mkdtemp(prefix)
    data_dir = os.path.join(root, "data")
    ev.write.mode("overwrite").parquet(data_dir)
    mx = ev.agg(F.max("ts")).collect()[0][0]  # bounded 1-row scalar
    if mx is None:
        return None
    sent = spark.createDataFrame(
        [
            (-1, mx + timedelta(days=40), -1, "purchase", 0.0),
            (-2, mx + timedelta(days=40, hours=2), -1, "click", 0.0),
        ],
        ev.schema,
    )
    sent_dir = os.path.join(root, "sent")
    sent.coalesce(1).write.parquet(sent_dir)

    stream_dir = os.path.join(root, "stream")
    os.makedirs(stream_dir)
    now = _time.time()
    data_files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
    for i, src in enumerate(data_files):
        dst = os.path.join(stream_dir, f"d{i:04d}.parquet")
        os.link(src, dst)
        os.utime(dst, (now - 100, now - 100))
    sp = _glob.glob(os.path.join(sent_dir, "*.parquet"))[0]
    sq = os.path.join(stream_dir, "zz-sentinel.parquet")
    os.link(sp, sq)
    os.utime(sq, (now - 10, now - 10))

    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", max(1, len(data_files)))
        .parquet(stream_dir)
    )


def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the inner
    join's hard sibling: unmatched purchases must ALSO emit (null-
    extended) so downstream conversion metrics see non-converters.
    The production subtlety this query demonstrates is TAIL FLUSHING:
    an outer row only materializes once the watermark passes
    p_ts + horizon, so purchases near the end of a stream would sit
    in the state store forever. The standard fix — an event-time
    SENTINEL beyond every real row's emission threshold — is staged
    here by replaying the events through a file source whose last
    (newest-mtime) file holds two sentinel rows 40 days out (>
    watermark 30d + horizon 1h), on user_id -1 so they can never join
    real rows and > horizon apart so they can't join each other; the
    final no-data micro-batch then evicts and emits every outer row.
    Replay == the batch LEFT JOIN, which is the DuckDB oracle (the
    oracle sees only real events; sentinels are filtered from the
    output)."""
    from .sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream = _staged_sentinel_stream(spark, ev, "stream_join_outer_")
    if stream is None:  # empty events table — nothing to join or flush
        return spark.createDataFrame(
            [],
            "user_id long, p_event_id long, c_event_id long, "
            "p_ts timestamp, c_ts timestamp, p_value double",
        )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_event_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", STREAM_JOIN_WATERMARK)
    )
    c = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", STREAM_JOIN_WATERMARK)
    )
    joined = p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts "
            f"AND c_ts <= p_ts + INTERVAL {STREAM_JOIN_HORIZON}"
        ),
        "left_outer",
    )
    sink = f"stream_join_outer_sink_{next(_SJOIN_SINK_SEQ)}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return (
        spark.table(sink)
        .filter(F.col("p_user") >= 0)
        .select(
            F.col("p_user").cast("long").alias("user_id"),
            "p_event_id",
            "c_event_id",
            "p_ts",
            "c_ts",
            F.round("p_value", R).alias("p_value"),
        )
    )


STREAM_JOIN_OUTER_SQL = """
SELECT CAST(p.user_id AS BIGINT) AS user_id,
       p.event_id AS p_event_id,
       c.event_id AS c_event_id,
       p.ts AS p_ts,
       c.ts AS c_ts,
       round(p.value, 9) AS p_value
FROM events p LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
"""


# --- A19 streaming session windows ------------------------------------------

_SSESS_SINK_SEQ = _it.count()
SESSION_GAP = "30 minutes"
STREAM_SESSION_WATERMARK = "10 minutes"


def session_event_stats(ev: DataFrame) -> DataFrame:
    """Per-user session stats via the built-in ``session_window``
    (dynamic-gap windows merged by the engine, the third streaming
    window class next to tumbling (A11) and interval join (A18)).
    Runs unchanged on a stream (watermarked, state = open sessions
    only once windows close) and on a batch frame — the parity test
    runs the SAME function both ways. Session start is the first
    event's time, so the batch oracle is the classic gap-island
    sessionization (a new session starts when the gap >= the window
    gap, matching session_window's merge rule: an event extends a
    session iff it lands strictly inside previous end = last + gap)."""
    src = ev
    if ev.isStreaming:
        src = ev.withWatermark("ts", STREAM_SESSION_WATERMARK)
    return (
        src.groupBy(
            F.session_window(F.col("ts"), SESSION_GAP).alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("tv"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            (F.unix_millis(F.col("w.start")) / 1000)
            .cast("long")
            .alias("session_start_epoch"),
            F.col("n").cast("long").alias("n_events"),
            F.col("tv").alias("total_value"),
        )
    )


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: session-window aggregation on the event stream. COMPLETE
    mode + availableNow so the finite replay emits the tail sessions
    still open at end-of-stream (same contract as A11); on an
    unbounded run you'd use append mode and let the watermark seal
    sessions (update mode is unsupported for session windows)."""
    from .sources import stream_table

    ev = stream_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    sink = f"stream_session_sink_{next(_SSESS_SINK_SEQ)}"
    q = (
        session_event_stats(ev)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return spark.table(sink)


STREAM_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM sess GROUP BY user_id, sid
"""


def session_event_stats_dynamic(ev: DataFrame) -> DataFrame:
    """Dynamic-gap session aggregation shared by the stream query and
    the batch parity path. Applies the SAME conditional watermark as
    the fixed-gap twin ``session_event_stats`` so the documented
    production shape (append mode, watermark seals sessions, state
    evictable on an unbounded stream) is one output-mode flip away —
    without it the session state could never be evicted (VERDICT r7
    what's-wrong #2)."""
    src = ev
    if ev.isStreaming:
        src = ev.withWatermark("ts", STREAM_SESSION_WATERMARK)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        src.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.floor(F.unix_timestamp(F.col("session_window.start")))
            .cast("long")
            .alias("session_start_epoch"),
            F.floor(F.unix_timestamp(F.col("session_window.end")))
            .cast("long")
            .alias("session_end_epoch"),
            "n_events",
            "total_value",
        )
    )


def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19b: session windows with a DYNAMIC per-event gap — purchases
    hold a session open for 30 minutes, everything else 10 — the
    engagement-weighted sessionization real funnels use (a fixed gap
    either fragments purchase journeys or glues casual browsing).
    ``session_window`` takes the gap as an expression, so the state
    merge is still engine-native; sessions merge by interval overlap
    (each event contributes [ts, ts+its_gap)), which is ORDER-FREE
    set semantics — the oracle restates it as a running-max-of-ends
    island computation with a deterministic (ts, event_id) tie order.
    COMPLETE mode + availableNow emits tail sessions, same contract
    as A19; the watermark lives in session_event_stats_dynamic."""
    from .sources import stream_table

    ev = stream_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    agg = session_event_stats_dynamic(ev)
    sink = f"stream_session_dyn_sink_{next(_SSESS_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return spark.table(sink)


STREAM_SESSION_DYNAMIC_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTE
              ELSE INTERVAL 10 MINUTE END AS gap
  FROM events
),
m AS (
  SELECT user_id, ts, event_id, value, ts + gap AS e_end,
         max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_end
  FROM e
),
s AS (
  SELECT *, CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END
              AS new_s
  FROM m
),
g AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(e_end))) AS BIGINT) AS session_end_epoch,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM g GROUP BY user_id, sid
"""


# --- A20 stream-static enrichment join ---------------------------------------

_SENRICH_SINK_SEQ = _it.count()


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream is
    enriched against the static customer dim (re-broadcast per batch,
    so a slowly-changing dim refresh needs no stream restart), then
    aggregated per (segment, event type). The dim side is bounded, so
    unlike a stream-stream join there is NO join state to watermark —
    the only streaming state is the aggregation's. COMPLETE mode +
    availableNow emits the final counts; the oracle is the plain batch
    join + group-by."""
    from .sources import load_table, stream_table

    ev = stream_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), on="user_id")
    agg = (
        joined.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    sink = f"stream_enrich_sink_{next(_SENRICH_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return spark.table(sink)


STREAM_ENRICH_SQL = """
SELECT c_mktsegment,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment, event_type
"""


# --- C32 count-min-sketch heavy hitters ------------------------------------

CMS_D = 4              # hash rows
CMS_W = 1024           # buckets per row
CMS_PROBE_MOD = 37     # docs with doc_id % 37 == 0 supply the probe vocab
CMS_TOPK = 50


def _cms_bucket(token, j: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{j}:"), token)), 1, 8),
            16,
            10,
        ).cast("long")
        % CMS_W
    )


def token_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: estimate corpus-wide token
    frequencies from a fixed D x W cell grid and rank a probe
    vocabulary by estimate, with the exact count alongside (CMS
    guarantees est >= exact; the gap is the collision overcount).

    Scale shape: the sketch aggregate's reduce-side state is AT MOST
    D*W cells no matter the corpus size — the map side emits D
    (row, bucket) pairs per occurrence but partial aggregation folds
    each task's stream into <= D*W cells before the shuffle, so the
    wire cost is ~D*W per task, not D per token. That bounded-state
    property is what replaces the unbounded-vocabulary shuffle of the
    exact top-K (C15 token_histogram) at 100 TB. Estimation is a
    broadcast join of the tiny cell grid against the probe tokens;
    the exact-count column (kept here to exhibit the overcount) is
    the one piece a production run would drop."""
    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
    pairs = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket(F.col("token"), j).alias("bucket"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("p")
    ).select("p.j", "p.bucket")
    cells = pairs.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    cand = (
        d.filter(F.col("doc_id") % CMS_PROBE_MOD == 0)
        .select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    cand_cells = cand.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket(F.col("token"), j).alias("bucket"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("p"),
    ).select("token", "p.j", "p.bucket")
    est = (
        cand_cells.join(F.broadcast(cells), on=["j", "bucket"])
        .groupBy("token")
        .agg(F.min("cnt").cast("long").alias("est_count"))
    )
    exact = (
        toks.join(F.broadcast(cand), on="token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    )
    w = Window.orderBy(F.desc("est_count"), F.asc("token"))
    return (
        est.join(exact, on="token")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= CMS_TOPK)
    )


def _cms_bucket_sql(token_expr: str) -> str:
    return (
        f"('0x' || substr(md5('cms' || j || ':' || {token_expr}), 1, 8))"
        f"::BIGINT % {CMS_W}"
    )


TOKEN_CMS_SQL = f"""
WITH toks AS (
  SELECT u.g AS token
  FROM (SELECT string_split_regex(trim(text), ' +') AS t FROM documents) d,
       UNNEST(t) AS u(g)
),
cells AS (
  SELECT j, {_cms_bucket_sql("token")} AS bucket, count(*) AS cnt
  FROM toks, range({CMS_D}) r(j)
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT u.g AS token
  FROM (SELECT string_split_regex(trim(text), ' +') AS t
        FROM documents WHERE doc_id % {CMS_PROBE_MOD} = 0),
       UNNEST(t) AS u(g)
),
est AS (
  SELECT c.token, CAST(min(cells.cnt) AS BIGINT) AS est_count
  FROM (SELECT token, j, {_cms_bucket_sql("token")} AS bucket
        FROM cand, range({CMS_D}) r(j)) c
  JOIN cells ON cells.j = c.j AND cells.bucket = c.bucket
  GROUP BY c.token
),
exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks WHERE token IN (SELECT token FROM cand)
  GROUP BY token
),
ranked AS (
  SELECT est.token, est_count, exact_count,
         CAST(row_number() OVER (ORDER BY est_count DESC, est.token ASC)
              AS INT) AS rank
  FROM est JOIN exact ON est.token = exact.token
)
SELECT * FROM ranked WHERE rank <= {CMS_TOPK}
"""


# --- C33 unigram-LM document perplexity -------------------------------------

PPL_KEEP_MAX = 900.0   # CCNet-style keep threshold on unigram perplexity


def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model perplexity per document (the CCNet-style
    quality signal: word-soup and boilerplate score high, typical prose
    scores low), with a keep flag at PPL_KEEP_MAX.

    Plan: three partial-aggregable aggregates over one token explode —
    per-(doc, token) counts, corpus per-token counts, and the corpus
    total (a 1-row broadcast, same idiom as tf-idf's n_docs) — then a
    token-keyed equi-join of doc-term counts against the vocabulary
    relation and one per-doc aggregate. Every stage map-side-combines
    before its shuffle, and the join key (token) is the natural
    partitioning, so the shape carries to 100 TB; there the vocabulary
    relation would be pruned (min-count) or replaced by the C32 CMS
    estimate, trading exactness for a broadcast-size table. No
    smoothing is needed: the model is scored on its own training
    corpus, so every token has nonzero count."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    dt = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("k"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_total"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(tot))
        .select("token", (-F.log(F.col("c") / F.col("n_total"))).alias("nll"))
    )
    per_doc = (
        dt.join(vocab, on="token")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            (F.sum(F.col("k") * F.col("nll")) / F.sum("k")).alias("_avg"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_avg"), R).alias("avg_nll"),
        F.round(F.exp(F.col("_avg")), 6).alias("perplexity"),
        (F.exp(F.col("_avg")) <= PPL_KEEP_MAX).alias("is_kept"),
    )


DOC_PERPLEXITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.g AS token
  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS t
        FROM documents) d,
       UNNEST(t) AS u(g)
),
tot AS (SELECT count(*) AS n_total FROM toks),
vocab AS (
  SELECT token, -ln(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot))
         AS nll
  FROM toks GROUP BY token
),
dt AS (
  SELECT doc_id, token, count(*) AS k FROM toks GROUP BY doc_id, token
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(k) AS BIGINT) AS n_tokens,
         sum(k * nll) / sum(k) AS avg_raw
  FROM dt JOIN vocab USING (token)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(avg_raw, {R}) AS avg_nll,
       round(exp(avg_raw), 6) AS perplexity,
       exp(avg_raw) <= {PPL_KEEP_MAX} AS is_kept
FROM per_doc
"""


# --- C36 incremental dedup against an existing corpus ------------------------

#: doc_id % INC_MOD == 0 plays the "newly ingested batch"; the rest is
#: the already-deduplicated base corpus
INC_MOD = 4


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continual-ingest dedup: a new batch is admitted only where its
    content hash collides with NEITHER the existing base corpus NOR an
    earlier document inside the same batch (min-doc_id wins in-batch).

    This is the shape every long-lived training pipeline runs on each
    crawl drop — never re-deduplicate the whole corpus, only probe the
    new slice against the standing index. Scale notes: the base side
    reduces to DISTINCT content hashes (in production, the persisted
    dedup index — bucketed by hash so the probe is shuffle-free); the
    probe is a LEFT ANTI join keyed on the hash (output bounded by the
    new batch); the in-batch tiebreak is one per-hash min-aggregate
    over the NEW slice only.  No broadcast hint on that aggregate: a
    bootstrap or backfill "batch" can be corpus-sized, so the join is
    left to AQE — and because the aggregate's shuffle key IS the join
    key ``h``, the sort-merge fallback is co-partitioned (exchange
    reuse, no extra shuffle; pinned in test_plan_shape).  Nothing ever
    scans base content twice and no step is O(corpus x batch)."""
    d = _docs(spark, sf_dir).select("doc_id", F.md5(F.col("text")).alias("h"))
    new = d.filter(F.col("doc_id") % INC_MOD == 0)
    base_hashes = (
        d.filter(F.col("doc_id") % INC_MOD != 0).select("h").distinct()
    )
    vs_base = new.join(base_hashes, "h", "left_anti")
    first_in_batch = vs_base.groupBy("h").agg(
        F.min("doc_id").alias("keep_id")
    )
    return (
        new.join(first_in_batch, "h", "left")
        .select(
            "doc_id",
            (F.col("keep_id") == F.col("doc_id")).alias("is_admitted"),
            F.when(F.col("keep_id").isNull(), F.lit("dup_of_base"))
            .when(F.col("keep_id") != F.col("doc_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
        .withColumn("is_admitted", F.coalesce("is_admitted", F.lit(False)))
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
new AS (SELECT * FROM d WHERE doc_id % {INC_MOD} = 0),
base AS (SELECT DISTINCT h FROM d WHERE doc_id % {INC_MOD} != 0),
-- NOT EXISTS, not NOT IN: NOT IN's three-valued logic silently drops
-- every row when any hash is NULL (nullable text), while Spark's
-- left_anti keeps null-keyed probe rows — NOT EXISTS matches left_anti.
vs_base AS (SELECT n.* FROM new n
            WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.h = n.h)),
first_in_batch AS (SELECT h, min(doc_id) AS keep_id FROM vs_base GROUP BY h)
SELECT n.doc_id,
       COALESCE(f.keep_id = n.doc_id, FALSE) AS is_admitted,
       CASE WHEN f.keep_id IS NULL THEN 'dup_of_base'
            WHEN f.keep_id != n.doc_id THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM new n LEFT JOIN first_in_batch f USING (h)
"""


# --- C36b incremental NEAR-dup: probe a batch's bands vs the corpus ---------


def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continual-ingest NEAR-duplicate screening — the harder sibling
    of C36's exact-hash probe: the new batch's MinHash BAND signatures
    probe the standing corpus band index, flagging each new doc with
    how many of its bands collide with any base document.

    Scale shape mirrors C36: the standing index reduces to DISTINCT
    (band, band_sig) pairs of the already-ingested corpus — persisted
    and bucketed in production via operators.dedup.write_band_index /
    probe_band_index, whose bucket-aligned zero-shuffle probe is
    pinned in tests/test_scale_patterns.py (the base corpus is
    shingled once at index-build time, never per run);
    the probe is one LEFT SEMI join keyed on (band, band_sig), output
    bounded by |batch| x BANDS rows before the per-doc count. The
    base corpus is never re-shingled against the batch — no
    O(corpus x batch) step, no all-pairs. Docs shorter than the
    shingle width carry no bands and are absent, same contract as the
    batch near-dup ops (C2/C3)."""
    from .operators.dedup import lsh_bands_from_wide, minhash_signatures_wide
    from .queries_pipeline import BANDS, MINHASH_K

    docs = _docs(spark, sf_dir)
    sig = minhash_signatures_wide(
        docs, num_hashes=MINHASH_K, shingle_k=SHINGLE_K
    )
    bands = lsh_bands_from_wide(sig, num_bands=BANDS, num_hashes=MINHASH_K)
    new_b = bands.filter(F.col("doc_id") % INC_MOD == 0)
    base_idx = (
        bands.filter(F.col("doc_id") % INC_MOD != 0)
        .select("band", "band_sig")
        .distinct()
    )
    hits = (
        new_b.join(base_idx, ["band", "band_sig"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_bands"))
    )
    return (
        new_b.select("doc_id")
        .distinct()
        .join(hits, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("n_hit_bands", F.lit(0)).alias("n_hit_bands"),
            (F.coalesce("n_hit_bands", F.lit(0)) > 0).alias(
                "is_near_dup_candidate"
            ),
        )
    )


from .queries_pipeline import _BANDS_SQL  # noqa: E402

DEDUP_INCREMENTAL_NEAR_SQL = f"""
WITH {_BANDS_SQL},
new_b AS (SELECT * FROM bands WHERE doc_id % {INC_MOD} = 0),
base_idx AS (
  SELECT DISTINCT band, band_sig FROM bands WHERE doc_id % {INC_MOD} != 0
),
hits AS (
  SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_hit_bands
  FROM new_b n
  WHERE EXISTS (SELECT 1 FROM base_idx b
                WHERE b.band = n.band AND b.band_sig = n.band_sig)
  GROUP BY n.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_hit_bands, 0) AS n_hit_bands,
       COALESCE(h.n_hit_bands, 0) > 0 AS is_near_dup_candidate
FROM (SELECT DISTINCT doc_id FROM new_b) d
LEFT JOIN hits h USING (doc_id)
"""


# --- C35 multimodal pixel decode (PNG, stdlib-zlib codec) -------------------


def multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-LEVEL image decode, fully real end-to-end, across BOTH
    image codecs: the PNG-id subset of ``documents`` gets a complete
    spec-valid PNG (gradient image, alternating Sub/Up scanline
    filters, correct CRCs) and the JPEG-id subset a complete baseline
    grayscale JPEG (block-constant image, Annex-K Huffman tables,
    all-ones quantization); the feature pass decodes the actual bytes
    back — PNG: chunk walk + CRC verify + inflate + unfilter; JPEG:
    marker walk + Huffman + dequant + IDCT — then reports per-image
    channel means (operators/multimodal.py, operators/jpeg.py).

    Both test images are closed forms of (doc_id, x, y) chosen so the
    codec round-trip is BIT-exact (the JPEG one is constant per 8x8
    block, i.e. DC-only spectrum), so the oracle computes expected
    means analytically with no codec: any bug in either encoder, the
    filter/Huffman math, or the unfiltering/IDCT shifts the means.
    Synthesis and decode run Arrow-batched in ``mapInPandas`` —
    executor-parallel, no shuffle; at 100 TB this is the decode /
    feature-extract shape (the real corpus would read payloads from
    the lake instead of synthesizing them)."""
    from .operators.multimodal import (
        attach_jpeg_pixel_payloads,
        attach_png_pixel_payloads,
        extract_pixel_stats,
    )

    docs = _docs(spark, sf_dir)
    assets = attach_png_pixel_payloads(docs).unionByName(
        attach_jpeg_pixel_payloads(docs)
    )
    return extract_pixel_stats(assets).select(
        "doc_id", "img_format", "width", "height",
        "mean_r", "mean_g", "mean_b", "n_px",
    )


MULTIMODAL_PIXELS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN 'png' ELSE 'jpeg' END AS img_format,
         CAST(doc_id % 16 + 1 AS INT) AS width,
         CAST(doc_id % 12 + 1 AS INT) AS height
  FROM documents WHERE doc_id % 6 = 0 OR doc_id % 6 = 3
),
px AS (
  SELECT d.doc_id, d.img_format, d.width, d.height, xs.x, ys.y
  FROM d
  JOIN generate_series(0, 15) AS xs(x) ON xs.x < d.width
  JOIN generate_series(0, 11) AS ys(y) ON ys.y < d.height
)
SELECT doc_id, img_format, width, height,
       round(avg(CASE WHEN img_format = 'png' THEN (doc_id + x + y) % 256
                      ELSE (7 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256
                 END), {R}) AS mean_r,
       round(avg(CASE WHEN img_format = 'png' THEN
                      CASE WHEN doc_id % 24 = 12 THEN (doc_id + x + y) % 256
                           ELSE (2 * doc_id + x) % 256 END
                      ELSE (7 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256
                 END), {R}) AS mean_g,
       round(avg(CASE WHEN img_format = 'png' THEN
                      CASE WHEN doc_id % 24 = 12 THEN (doc_id + x + y) % 256
                           ELSE (3 * doc_id + y) % 256 END
                      ELSE (7 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256
                 END), {R}) AS mean_b,
       CAST(count(*) AS BIGINT) AS n_px
FROM px
GROUP BY doc_id, img_format, width, height
"""


# --- C38 decode + resize (resolution-normalize) -----------------------------

RESIZE_W = 8
RESIZE_H = 6


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize to a fixed {RESIZE_W}x{RESIZE_H}
    grid in ONE Arrow pass — the resolution-normalize step every image
    training pipeline runs between decode and feature/patch
    extraction. Covers both codec paths (PNG gradients, JPEG
    block-constant) and both directions (images smaller than the
    target upscale, larger ones downscale). The source index map is
    pure integer math (floor(dst*src/dst_size)), so the oracle
    restates the resized means exactly with no codec."""
    from .operators.multimodal import (
        attach_jpeg_pixel_payloads,
        attach_png_pixel_payloads,
        extract_resized_stats,
    )

    docs = _docs(spark, sf_dir)
    assets = attach_png_pixel_payloads(docs).unionByName(
        attach_jpeg_pixel_payloads(docs)
    )
    return extract_resized_stats(assets, RESIZE_W, RESIZE_H).select(
        "doc_id", "img_format", "width", "height",
        "mean_r", "mean_g", "mean_b", "n_px",
    )


MULTIMODAL_RESIZE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN 'png' ELSE 'jpeg' END AS img_format,
         CAST(doc_id % 16 + 1 AS BIGINT) AS src_w,
         CAST(doc_id % 12 + 1 AS BIGINT) AS src_h
  FROM documents WHERE doc_id % 6 = 0 OR doc_id % 6 = 3
),
px AS (
  SELECT d.doc_id, d.img_format,
         (xs.x * d.src_w) // {RESIZE_W} AS sx,
         (ys.y * d.src_h) // {RESIZE_H} AS sy
  FROM d
  JOIN generate_series(0, {RESIZE_W - 1}) AS xs(x) ON TRUE
  JOIN generate_series(0, {RESIZE_H - 1}) AS ys(y) ON TRUE
)
SELECT doc_id, img_format,
       CAST({RESIZE_W} AS INT) AS width,
       CAST({RESIZE_H} AS INT) AS height,
       round(avg(CASE WHEN img_format = 'png' THEN (doc_id + sx + sy) % 256
                      ELSE (7 * doc_id + 5 * (sx // 8) + 11 * (sy // 8)) % 256
                 END), {R}) AS mean_r,
       round(avg(CASE WHEN img_format = 'png' THEN
                      CASE WHEN doc_id % 24 = 12 THEN (doc_id + sx + sy) % 256
                           ELSE (2 * doc_id + sx) % 256 END
                      ELSE (7 * doc_id + 5 * (sx // 8) + 11 * (sy // 8)) % 256
                 END), {R}) AS mean_g,
       round(avg(CASE WHEN img_format = 'png' THEN
                      CASE WHEN doc_id % 24 = 12 THEN (doc_id + sx + sy) % 256
                           ELSE (3 * doc_id + sy) % 256 END
                      ELSE (7 * doc_id + 5 * (sx // 8) + 11 * (sy // 8)) % 256
                 END), {R}) AS mean_b,
       CAST(count(*) AS BIGINT) AS n_px
FROM px
GROUP BY doc_id, img_format
"""


# --- C37b decode-at-ingest: the audio feature pass under readStream ---------

import itertools as _itm

_MM_STREAM_SINK_SEQ = _itm.count()


def multimodal_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C37 audio synthesis + decode pass run UNDER THE STREAMING
    ENGINE: ``readStream`` on documents → payload attach → RIFF/PCM
    feature extraction, append-mode memory sink, availableNow replay.
    This is decode-at-ingest — the shape a production pipeline uses to
    featurize media the moment it lands instead of re-scanning the
    lake: both mapInPandas stages are STATELESS, so the streaming plan
    needs no state store, no watermark, and each micro-batch's decode
    cost is proportional to that batch alone. Replay == batch is the
    oracle (same closed-form SQL as C37)."""
    from .operators.multimodal import (
        attach_wav_audio_payloads,
        extract_audio_stats,
    )
    from .sources import stream_table

    docs = stream_table(spark, sf_dir, "documents")
    out = extract_audio_stats(attach_wav_audio_payloads(docs)).select(
        "doc_id", "n_samples", "sample_rate", "duration_s",
        "peak", "mean_sq", "zero_crossings",
    )
    sink = f"mm_stream_sink_{next(_MM_STREAM_SINK_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return spark.table(sink)


# --- C41 hashing-trick document vectorizer ----------------------------------


def doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) vectorizer: every token maps to
    one of 256 buckets via the first two md5 hex chars — no vocabulary
    build, no vocabulary broadcast, which is the point at 100 TB: the
    feature space is fixed before the data is seen, so featurization
    is a single explode + one (doc, bucket) aggregate with map-side
    partial counts. Output is the sparse relational form (doc_id,
    bucket, tf); assembling a dense array per doc is a row-local
    transform on top. md5 keeps the bucket assignment engine-portable
    (same trick as train_val_split)."""
    from .functions.text import tokens

    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    return (
        t.withColumn("bucket", F.substring(F.md5(F.col("tok")), 1, 2))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


DOC_FEATURE_HASHING_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents
)
SELECT doc_id, substr(md5(tok), 1, 2) AS bucket,
       CAST(count(*) AS BIGINT) AS tf
FROM t GROUP BY doc_id, bucket
"""


# --- C41b linear quality-classifier inference over hashed features ---------

#: keep threshold on the normalized score in [-1, 1]
QC_TAU = 0.05


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear classifier inference over the hashing-trick features —
    the fastText-style quality-filter shape (CCNet/DCLM corpus
    filters): score(doc) = Σ_b tf_b · w_b / Σ_b tf_b with a FIXED
    weight per bucket, keep = score > τ. At 100 TB this is model
    inference as pure column algebra: the "model" is a deterministic
    function of the bucket id (here derived from the bucket's hex
    chars; a real deployment broadcasts a 256-float map — same plan),
    so scoring adds zero joins and zero shuffles beyond C41's single
    feature aggregate.

    Exactness: integer weights in [-10, 10] keep Σ tf·w exact in both
    engines; the ONLY float op is the final division — bit-identical
    IEEE, no rounding ties."""
    fh = doc_feature_hashing(spark, sf_dir)
    w_int = (
        F.ascii(F.substring(F.col("bucket"), 1, 1)) * 31
        + F.ascii(F.substring(F.col("bucket"), 2, 1))
    ) % 21 - 10
    per = fh.withColumn("_w", w_int).groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("_w")).cast("long").alias("_num"),
        F.sum("tf").cast("long").alias("n_tokens"),
    )
    score = F.col("_num") / (F.lit(10.0) * F.col("n_tokens"))
    return per.select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        (score > QC_TAU).alias("is_kept"),
    )


QUALITY_CLASSIFIER_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents
),
fh AS (
  SELECT doc_id, substr(md5(tok), 1, 2) AS bucket,
         CAST(count(*) AS BIGINT) AS tf
  FROM t GROUP BY doc_id, bucket
),
w AS (
  SELECT *,
         (ascii(substr(bucket, 1, 1)) * 31
          + ascii(substr(bucket, 2, 1))) % 21 - 10 AS w_int
  FROM fh
),
per AS (
  SELECT doc_id,
         CAST(sum(tf * w_int) AS BIGINT) AS num,
         CAST(sum(tf) AS BIGINT) AS n_tokens
  FROM w GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       num / (10.0 * n_tokens) AS score,
       num / (10.0 * n_tokens) > {QC_TAU} AS is_kept
FROM per
"""


# --- C42 training-mixture weights (temperature sampling) --------------------

#: temperature alpha = 0.5 -> sqrt: correctly-rounded per IEEE-754 on
#: every engine, so the oracle comparison is not at the mercy of
#: libm-vs-JVM pow() last-ulp differences
MIX_SQRT = True


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture (domain re-weighting) computation: per-language
    token mass -> temperature-scaled sampling weights w_l ∝ n_l^0.5
    (multilingual-C4 style upsampling of low-resource slices), plus
    the natural share and the implied epochs-over-natural factor.

    Scale shape: one corpus aggregate to #languages rows, then global
    window sums over THAT tiny relation (bounded by the number of
    languages, never by the corpus) — the single-partition window is
    deliberate and safe here."""
    from pyspark.sql import Window

    from .functions.text import tokens

    d = _docs(spark, sf_dir)
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    out = (
        per.withColumn("_s", F.sqrt(F.col("n_tokens").cast("double")))
        .withColumn("_w", F.col("_s") / F.sum("_s").over(w))
        .withColumn(
            "_nat",
            F.col("n_tokens") / F.sum("n_tokens").over(w).cast("double"),
        )
    )
    # round only at the edge — ratios of rounded intermediates would
    # diverge from the oracle's unrounded math
    return out.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("_w"), 9).alias("weight"),
        F.round(F.col("_nat"), 9).alias("natural_share"),
        F.round(F.col("_w") / F.col("_nat"), 9).alias("epochs_factor"),
    )


CORPUS_MIXTURE_SQL = """
WITH per AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), ' +'))) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY lang
),
x AS (
  SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS s FROM per
)
SELECT lang, n_docs, n_tokens,
       round(s / sum(s) OVER (), 9) AS weight,
       round(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE), 9)
           AS natural_share,
       round((s / sum(s) OVER ())
             / (n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE)), 9)
           AS epochs_factor
FROM x
"""


# --- C40 GIF pixel decode (LZW, stdlib codec) -------------------------------


def multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-LEVEL GIF decode, fully real: the image-id subset gets a
    complete single-frame GIF87a (grayscale gradient through a 256-gray
    global color table, real variable-width LZW compression with
    dictionary growth), and the feature pass decodes the actual bytes
    back — sub-block walk + LZW + palette lookup (operators/gif.py).
    With PNG (C35), JPEG (C35), and GIF here, every format the header
    parser recognizes has a full pixel path. The gradient formula is
    distinct from the PNG/JPEG ones, so a crossed-up decode route
    cannot accidentally match this oracle."""
    from .operators.multimodal import (
        attach_gif_pixel_payloads,
        extract_pixel_stats,
    )

    docs = _docs(spark, sf_dir)
    return extract_pixel_stats(attach_gif_pixel_payloads(docs)).select(
        "doc_id", "img_format", "width", "height",
        "mean_r", "mean_g", "mean_b", "n_px",
    )


MULTIMODAL_GIF_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 1 AS INT) AS width,
         CAST(doc_id % 12 + 1 AS INT) AS height
  FROM documents WHERE doc_id % 6 = 0
),
px AS (
  SELECT d.doc_id, d.width, d.height,
         (5 * d.doc_id + 3 * xs.x + 7 * ys.y) % 256 AS v
  FROM d
  JOIN generate_series(0, 15) AS xs(x) ON xs.x < d.width
  JOIN generate_series(0, 11) AS ys(y) ON ys.y < d.height
)
SELECT doc_id, 'gif' AS img_format, width, height,
       round(avg(v), {R}) AS mean_r,
       round(avg(v), {R}) AS mean_g,
       round(avg(v), {R}) AS mean_b,
       CAST(count(*) AS BIGINT) AS n_px
FROM px
GROUP BY doc_id, width, height
"""


# --- C39 video frame-sampling (MJPEG, real JPEG frames) ---------------------

FRAME_EVERY_K = 2


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-LEVEL video decode, fully real: the video-id subset of
    ``documents`` gets a REAL AVI container (RIFF hdrl/movi/idx1,
    operators/avi.py — upgraded from bare concatenated MJPEG in r6)
    holding 2-6 baseline JPEG frames, each a block-constant image
    with a per-frame term; the feature pass walks the container,
    cross-checks the idx1 index, and decodes ONLY every
    {FRAME_EVERY_K}nd frame — the video → training-frames sampling
    step, where decode cost must scale with sampled frames, not
    stream length.

    The sampled frames are DC-only so the codec round-trips them
    bit-exactly, and the oracle restates each sampled frame's mean
    analytically over the (doc, frame, block) closed form — identical
    for the AVI and bare-MJPEG container forms, both of which
    extract_frame_stats accepts (sniffed per payload). With this,
    image/audio/VIDEO are all real byte-level decode paths — only
    compressed codecs (H.264 etc.) remain the declared integration
    point."""
    from .operators.multimodal import (
        attach_avi_video_payloads,
        extract_frame_stats,
    )

    docs = _docs(spark, sf_dir)
    return extract_frame_stats(
        attach_avi_video_payloads(docs), every_k=FRAME_EVERY_K
    ).select(
        "doc_id", "frame_idx", "n_frames", "width", "height", "mean_gray"
    )


MULTIMODAL_FRAMES_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 1 AS INT) AS width,
         CAST(doc_id % 12 + 1 AS INT) AS height,
         CAST(doc_id % 5 + 2 AS INT) AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT d.*, f.f AS frame_idx
  FROM d JOIN generate_series(0, 6) AS f(f)
    ON f.f < d.n_frames AND f.f % {FRAME_EVERY_K} = 0
),
px AS (
  SELECT fr.doc_id, fr.frame_idx, fr.n_frames, fr.width, fr.height,
         (7 * fr.doc_id + 13 * fr.frame_idx
          + 5 * (xs.x // 8) + 11 * (ys.y // 8)) % 256 AS v
  FROM fr
  JOIN generate_series(0, 15) AS xs(x) ON xs.x < fr.width
  JOIN generate_series(0, 11) AS ys(y) ON ys.y < fr.height
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, n_frames,
       width, height,
       round(avg(v), {R}) AS mean_gray
FROM px
GROUP BY doc_id, frame_idx, n_frames, width, height
"""


# --- C37 multimodal audio decode (WAV/PCM, stdlib codec) --------------------


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-LEVEL audio decode, fully real end-to-end: the audio-id
    subset of ``documents`` gets a complete RIFF/WAVE 16-bit PCM
    payload (deterministic sawtooth clip), and the feature pass parses
    the actual bytes back — RIFF chunk walk, fmt validation, sample
    extraction — then reports per-clip features (duration, peak, mean
    square, zero crossings; operators/wav.py).

    PCM is integer samples verbatim, so the round trip is bit-exact
    and the oracle restates every feature in closed form over
    (doc_id, i) — any bug in the container math or the sample parse
    shifts the numbers. Synthesis and decode run Arrow-batched in
    ``mapInPandas``: executor-parallel, no shuffle, the same plan
    shape as the image pixel path (C35)."""
    from .operators.multimodal import (
        attach_wav_audio_payloads,
        extract_audio_stats,
    )

    docs = _docs(spark, sf_dir)
    return extract_audio_stats(attach_wav_audio_payloads(docs)).select(
        "doc_id", "n_samples", "sample_rate", "duration_s",
        "peak", "mean_sq", "zero_crossings",
    )


MULTIMODAL_AUDIO_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 240 + 16 AS BIGINT) AS n
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT d.doc_id, d.n, i.i,
         (13 * d.doc_id + 7 * i.i) % 2001 - 1000 AS v
  FROM d JOIN generate_series(0, 255) AS i(i) ON i.i < d.n
),
sgn AS (
  SELECT doc_id, n, i, v,
         CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 END AS sg
  FROM s
),
cr AS (
  SELECT doc_id, n, i, v, sg,
         COALESCE(last_value(sg IGNORE NULLS) OVER (
             PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 1) AS prev_sg
  FROM sgn
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       -- unrounded: exact-integer sums / n are bit-identical doubles
       -- on both engines, and round() only risks round-half ties
       n / 8000.0 AS duration_s,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       avg(CAST(v * v AS DOUBLE)) AS mean_sq,
       CAST(count(*) FILTER (WHERE sg IS NOT NULL AND sg != prev_sg)
            AS BIGINT) AS zero_crossings
FROM cr
GROUP BY doc_id, n
"""


# --- C45 within-document repetition signals (Gopher-style) ------------------


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signals — the classic
    filter family for boilerplate/templated text: top-unigram and
    top-bigram occupancy (share of the doc taken by its single most
    frequent 1-/2-gram) and the duplicate-trigram fraction
    (1 - distinct/total trigram occurrences).

    Plan shape: ONE row-local gram synthesis (unigrams + bigrams +
    trigrams concatenated into a single tagged array — no per-kind
    re-scan), one explode, one (doc, kind, gram) count aggregate,
    one (doc, kind) rollup, and a conditional-agg pivot back to one
    row per doc. Everything is partial-agg friendly; shuffle keys are
    the natural gram keys. The repetition flag uses fixed thresholds
    (25% unigram / 18% bigram / 30% dup-trigram occupancy) mirrored
    by the oracle."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), " +")
    empty = F.array().cast("array<string>")
    # NB: Spark's sequence(1, 0) yields [1, 0] (descending), so every
    # gram ladder is gated on having at least one gram
    uni = F.transform(toks, lambda t: F.concat(F.lit("u:"), t))
    bi = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.lit("b:"),
                F.element_at(toks, i),
                F.lit(" "),
                F.element_at(toks, i + 1),
            ),
        ),
    ).otherwise(empty)
    tri = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat(
                F.lit("t:"),
                F.element_at(toks, i),
                F.lit(" "),
                F.element_at(toks, i + 1),
                F.lit(" "),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(empty)
    grams = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.concat(uni, bi, tri)).alias("gram"),
    )
    per_gram = grams.groupBy(
        "doc_id", F.substring("gram", 1, 1).alias("kind"), "gram"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_kind = per_gram.groupBy("doc_id", "kind").agg(
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("top"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    kind = lambda k, col: F.max(F.when(F.col("kind") == k, col))  # noqa: E731
    out = per_kind.groupBy("doc_id").agg(
        F.round(kind("u", F.col("top") / F.col("total")), R).alias(
            "top_unigram_frac"
        ),
        F.round(
            F.coalesce(kind("b", F.col("top") / F.col("total")), F.lit(0.0)), R
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce(
                kind("t", 1.0 - F.col("n_distinct") / F.col("total")),
                F.lit(0.0),
            ),
            R,
        ).alias("dup_trigram_frac"),
    )
    return out.select(
        "doc_id",
        "top_unigram_frac",
        "top_bigram_frac",
        "dup_trigram_frac",
        (
            (F.col("top_unigram_frac") > 0.25)
            | (F.col("top_bigram_frac") > 0.18)
            | (F.col("dup_trigram_frac") > 0.30)
        ).alias("is_repetitive"),
    )


DOC_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
grams AS (
  SELECT doc_id, g.g AS gram
  FROM toks, UNNEST(
    list_concat(
      list_transform(t, x -> 'u:' || x),
      list_concat(
        CASE WHEN len(t) >= 2
             THEN list_transform(range(1, len(t)),
                                 i -> 'b:' || t[i] || ' ' || t[i+1])
             ELSE [] END,
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> 't:' || t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE [] END))) AS g(g)
),
per_gram AS (
  SELECT doc_id, substring(gram, 1, 1) AS kind, gram, count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3
),
per_kind AS (
  SELECT doc_id, kind, sum(cnt) AS total, max(cnt) AS top,
         count(*) AS n_distinct
  FROM per_gram GROUP BY 1, 2
),
piv AS (
  SELECT doc_id,
    round(max(CASE WHEN kind = 'u' THEN CAST(top AS DOUBLE) / total END), {R})
      AS top_unigram_frac,
    round(COALESCE(max(CASE WHEN kind = 'b' THEN CAST(top AS DOUBLE) / total END), 0.0), {R})
      AS top_bigram_frac,
    round(COALESCE(max(CASE WHEN kind = 't' THEN 1.0 - CAST(n_distinct AS DOUBLE) / total END), 0.0), {R})
      AS dup_trigram_frac
  FROM per_kind GROUP BY doc_id
)
SELECT doc_id, top_unigram_frac, top_bigram_frac, dup_trigram_frac,
       (top_unigram_frac > 0.25 OR top_bigram_frac > 0.18
        OR dup_trigram_frac > 0.30) AS is_repetitive
FROM piv
"""


# --- C47 per-language adaptive quality thresholds ---------------------------


def quality_thresholds_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE adaptive quality gates: a fixed global threshold
    over-filters low-resource languages (their score distributions
    differ), so production pipelines derive cutoffs per language —
    here exact p10/p50/p90 of the unique-word-ratio score, joined
    back to flag each doc against ITS OWN language's floor.

    Scale shape: the score is row-local; the percentile aggregate
    reduces the corpus to #languages rows — a relation bounded by the
    grid, NOT the data, so this is the legitimate case FOR an
    explicit broadcast hint (contrast the r6 hint removals on
    SF-scaling tables: the q8 principle allows hints precisely here).
    Percentiles and the flag compare on ROUNDED values so the cut is
    engine-stable."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    score = F.round(
        TX.unique_word_count(t).cast("double") / TX.word_count(t), R
    )
    scored = d.select("doc_id", "lang", score.alias("quality_score"))
    th = scored.groupBy("lang").agg(
        *[
            F.round(
                F.percentile(F.col("quality_score"), F.lit(p)), R
            ).alias(f"lang_p{int(p * 100)}")
            for p in (0.1, 0.5, 0.9)
        ]
    )
    return (
        scored.join(F.broadcast(th), "lang")
        .select(
            "doc_id",
            "lang",
            "quality_score",
            "lang_p10",
            "lang_p50",
            "lang_p90",
            (F.col("quality_score") < F.col("lang_p10")).alias("below_p10"),
        )
    )


QUALITY_THRESHOLDS_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         round(CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
                    AS DOUBLE)
               / len(string_split_regex(trim(text), ' +')), {R})
           AS quality_score
  FROM documents
),
th AS (
  SELECT lang,
         round(quantile_cont(quality_score, 0.1), {R}) AS lang_p10,
         round(quantile_cont(quality_score, 0.5), {R}) AS lang_p50,
         round(quantile_cont(quality_score, 0.9), {R}) AS lang_p90
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.quality_score,
       t.lang_p10, t.lang_p50, t.lang_p90,
       s.quality_score < t.lang_p10 AS below_p10
FROM scored s JOIN th t USING (lang)
"""


# --- C46 winnowing fingerprints (MOSS) --------------------------------------

# WINNOW_K / WINNOW_W are defined with the pipeline constants at the
# top of the module (CORPUS_FILTER_SQL needs them at f-string time).


def _winnow_gram_hashes(text_col) -> "F.Column":
    """Row-local md5 hash per k-token gram of a text column. Shared by
    doc_winnowing and corpus_filter_pipeline's winnow-overlap stage so
    the two can never drift."""
    toks = F.split(F.trim(text_col), " +")
    empty = F.array().cast("array<string>")
    return F.when(
        F.size(toks) >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (WINNOW_K - 1)),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at(toks, i + j) for j in range(WINNOW_K)],
                )
            ),
        ),
    ).otherwise(empty)


def _winnow_select(gh) -> "F.Column":
    """Winnowing selection over an ALREADY-PROJECTED gram-hash array
    column: sliding w-window minimum, distinct + sorted — the per-doc
    fingerprint set. Takes a named column so the gram hashing is
    evaluated once in a prior projection, not re-expanded per window
    slice."""
    empty = F.array().cast("array<string>")
    return F.when(
        F.size(gh) >= WINNOW_W,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(gh) - (WINNOW_W - 1)),
                    lambda i: F.array_min(F.slice(gh, i, WINNOW_W)),
                )
            )
        ),
    ).otherwise(empty)


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-token gram, slide a w-hash window, keep each window's MINIMUM
    hash — guaranteeing any match of length >= w+k-1 tokens shares a
    fingerprint, with expected density 2/(w+1) of the gram count.
    The per-doc fingerprint SET (dedup'd selected hashes) is the
    copy-detection signature.

    Everything is ROW-LOCAL array algebra — gram hashing, the sliding
    min, the dedup — so the whole query rides the scan with zero
    shuffles: per-doc output is (count, checksum) rather than the
    exploded set, keeping result size O(docs). The checksum (md5 of
    the sorted fingerprints) pins the exact selected set against the
    oracle, not just its cardinality."""
    d = _docs(spark, sf_dir)
    # sequence(1, 0) yields [1, 0] in Spark — the helpers gate each
    # ladder on having at least one gram/window
    d2 = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _winnow_gram_hashes(F.col("text")).alias("gh"),
    )
    selected = _winnow_select(F.col("gh"))
    return d2.select(
        "doc_id",
        F.size("gh").cast("long").alias("n_grams"),
        F.size(selected).cast("long").alias("n_fingerprints"),
        F.md5(F.array_join(selected, ",")).alias("fp_checksum"),
    )


DOC_WINNOWING_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
gh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= {WINNOW_K}
         THEN list_transform(range(1, len(t) - {WINNOW_K} + 2),
              i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [] END AS gh
  FROM toks
),
sel AS (
  SELECT doc_id, gh,
    CASE WHEN len(gh) >= {WINNOW_W}
         THEN list_sort(list_distinct(
              list_transform(range(1, len(gh) - {WINNOW_W} + 2),
                             i -> list_min(gh[i : i + {WINNOW_W} - 1]))))
         ELSE [] END AS fps
  FROM gh
)
SELECT doc_id, CAST(len(gh) AS BIGINT) AS n_grams,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       md5(COALESCE(list_aggregate(fps, 'string_agg', ','), ''))
         AS fp_checksum
FROM sel
"""


# --- A23 foreachBatch CDC upsert stream --------------------------------------

def _latest_per_user(df: DataFrame) -> DataFrame:
    """Deterministic latest-wins reduction: max ts per user, then max
    value among rows AT that ts (two-step so ties break identically
    on every engine — arg_max/max_by tie order is engine-specific)."""
    m = df.groupBy("user_id").agg(F.max("ts").alias("ts"))
    return (
        df.join(m, ["user_id", "ts"])
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )


#: hash buckets for the upsert state layout — at 100 TB of keys this
#: would be thousands; 8 keeps the test layout inspectable while still
#: leaving most buckets untouched by a typical micro-batch
UPSERT_BUCKETS = 8


def _upsert_manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest.json")


def _upsert_read_manifest(state_dir: str) -> dict:
    import json

    p = _upsert_manifest_path(state_dir)
    if not os.path.isfile(p):
        return {"bucket_gen": {}, "next_gen": 0, "batches": 0}
    try:
        with open(p) as fh:
            return json.load(fh)
    except (json.JSONDecodeError, OSError) as exc:
        # An unreadable manifest means the atomic-replace contract was
        # violated upstream (e.g. torn write on a filesystem without
        # rename atomicity). Fail loudly with a recovery hint rather
        # than bricking callers with a bare JSONDecodeError (ADVICE r9).
        raise RuntimeError(
            f"upsert manifest {p!r} is corrupt ({exc}); the committed "
            "state cannot be trusted — restore the manifest from a "
            "backup or delete the state dir to rebuild from source"
        ) from exc


def _upsert_bucket_dir(state_dir: str, gen: int, bucket: int) -> str:
    return os.path.join(state_dir, f"gen={gen}", f"bucket={bucket}")


def read_upsert_state(spark: SparkSession, state_dir: str):
    """Read the COMMITTED upsert state: for each bucket, the parquet
    directory its manifest entry points at. Returns None when no
    manifest exists yet (no batch has committed)."""
    man = _upsert_read_manifest(state_dir)
    paths = [
        _upsert_bucket_dir(state_dir, g, int(b))
        for b, g in sorted(man["bucket_gen"].items(), key=lambda kv: int(kv[0]))
    ]
    if not paths:
        return None
    spark.catalog.refreshByPath(state_dir)
    return spark.read.parquet(*paths).select("user_id", "ts", "value")


def make_upsert_sink(root: str):
    """(merge_fn, state) for a foreachBatch latest-wins upsert into a
    parquet state table hash-bucketed by ``user_id``, committed with a
    WRITE-AHEAD generation layout + atomic manifest swap — the same
    commit protocol a Delta/Iceberg MERGE uses (data files first,
    then one atomic metadata pointer flip):

    1. the batch's touched buckets are merged against the COMMITTED
       generation of just those buckets (bounded collect of <=
       UPSERT_BUCKETS bucket ids drives the pruned read) and written
       to a FRESH ``gen=<n>/bucket=<b>`` tree — the previous
       generation is never modified, so no mid-write crash can lose
       rows of co-bucketed users absent from the batch (ADVICE r8:
       the prior in-place dynamic-overwrite rewrote the only copy);
    2. the per-bucket pointers flip in ONE ``os.replace`` of
       ``manifest.json`` — readers and retries see either the whole
       batch or none of it;
    3. superseded bucket directories are garbage-collected AFTER the
       commit (a crash mid-GC leaves unreferenced garbage, never a
       dangling pointer; the next batch's GC sweep removes it).

    Per-batch write cost stays O(keys touched by the batch): only
    touched buckets get a new generation; untouched buckets' files
    are not even opened (byte-identical, pinned in
    tests/test_streaming.py). A RETRIED batch (Spark re-delivers a
    failed batch with identical content) re-merges against whichever
    manifest committed — latest-wins is algebraically idempotent
    (latest(state' ∪ batch) = state' for state' = latest(state ∪
    batch)), so the retry converges to the same committed rows:
    exactly-once STATE on top of at-least-once delivery, now without
    assuming every write completes. ``state['dir']`` is the state
    table path (read it with ``read_upsert_state``),
    ``state['batches']`` the number of batches merged."""

    def _prev(committed: DataFrame) -> DataFrame:
        return committed.select("user_id", "ts", "value")

    def _merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        latest = _latest_per_user(batch_df)
        if prev is not None:
            latest = _latest_per_user(prev.unionByName(latest))
        return latest

    return make_bucketed_wal_sink(root, _prev, _merge)


def make_bucketed_wal_sink(root: str, prev_select, merge_rows):
    """The write-ahead-generation + atomic-manifest commit ENGINE
    shared by the type-1 upsert sink and the type-2 SCD2 sink (review
    r12: previously duplicated verbatim, so a protocol fix had to land
    twice). The crash-safety protocol (see make_upsert_sink's
    docstring for the full argument):

    1. touched buckets from the batch's user_ids (bounded collect of
       <= UPSERT_BUCKETS ids) drive a PRUNED read of only those
       buckets' committed generation — via ``prev_select(committed)``,
       which projects the state table to the caller's merge grain;
    2. ``merge_rows(batch_df, prev_or_None)`` computes the rows to
       persist; they land in a FRESH ``gen=<n>/bucket=<b>`` tree
       (write-ahead — the committed generation is never modified,
       and uncommitted leftovers of a crashed attempt are cleared);
    3. the per-bucket pointers flip in ONE fsynced ``os.replace`` of
       ``manifest.json`` (+ directory fsync so the rename survives
       power loss), then the post-commit GC SWEEP reclaims everything
       the manifest no longer references.

    Returns (foreachBatch merge fn, state dict with 'dir'/'batches')."""
    import json
    import shutil

    state_dir = os.path.join(root, "state")
    cur = {"dir": None, "batches": 0}

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        bucket = F.pmod(F.xxhash64(F.col("user_id")), F.lit(UPSERT_BUCKETS))
        man = _upsert_read_manifest(state_dir)
        # bounded collect: <= UPSERT_BUCKETS longs — drives the pruned
        # read of only the committed buckets this batch hits
        touched = sorted(
            r[0]
            for r in batch_df.select(bucket.alias("b")).distinct().collect()
        )
        prev_paths = [
            _upsert_bucket_dir(state_dir, man["bucket_gen"][str(b)], b)
            for b in touched
            if str(b) in man["bucket_gen"]
        ]
        prev = None
        if prev_paths:
            s.catalog.refreshByPath(state_dir)
            prev = prev_select(s.read.parquet(*prev_paths))
        rows = merge_rows(batch_df, prev)
        gen = man["next_gen"]
        gen_dir = os.path.join(state_dir, f"gen={gen}")
        if os.path.isdir(gen_dir):
            # uncommitted leftovers of a crashed attempt at this gen
            # (the manifest never referenced it) — clear and redo
            shutil.rmtree(gen_dir)
        # write-ahead: a fresh generation tree for the touched buckets;
        # the committed generation being read is never modified, so the
        # plan needs no lineage cut (no localCheckpoint)
        (
            rows.withColumn("bucket", bucket)
            .write.partitionBy("bucket")
            .parquet(gen_dir)
        )
        # commit: flip every touched bucket's pointer in one atomic
        # manifest replace
        for b in touched:
            man["bucket_gen"][str(b)] = gen
        man["next_gen"] = gen + 1
        man["batches"] += 1
        tmp = os.path.join(state_dir, ".manifest.tmp")
        with open(tmp, "w") as fh:
            json.dump(man, fh)
            fh.flush()
            os.fsync(fh.fileno())  # durable before the rename (ADVICE r9)
        os.replace(tmp, _upsert_manifest_path(state_dir))
        # fsync the directory so the rename itself survives power loss
        dfd = os.open(state_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        # GC (post-commit; crash-safe): a full SWEEP against the
        # committed manifest, not just this batch's pointer diff — so
        # bucket dirs orphaned by a crash between an earlier commit
        # and its GC, and gen dirs left holding only _SUCCESS, are
        # also reclaimed. Never touches the manifest-referenced dirs.
        _upsert_gc(state_dir, man)
        s.catalog.refreshByPath(state_dir)
        cur["dir"] = state_dir
        cur["batches"] = man["batches"]

    return _merge, cur


def _upsert_gc(state_dir: str, man: dict) -> None:
    """Remove every generation/bucket directory the manifest does not
    reference: stale bucket subdirs (superseded pointers, including
    ones orphaned by a crash between a previous commit and its GC)
    and whole gen dirs with no referenced bucket left (empty-batch
    gens, fully superseded gens). Idempotent; safe to crash inside —
    nothing referenced is ever deleted."""
    import re
    import shutil

    live = {
        (g, int(b)) for b, g in man["bucket_gen"].items()
    }
    for entry in os.listdir(state_dir):
        m = re.fullmatch(r"gen=(\d+)", entry)
        if not m:
            continue
        gen = int(m.group(1))
        gen_path = os.path.join(state_dir, entry)
        keep_any = False
        for sub in os.listdir(gen_path):
            bm = re.fullmatch(r"bucket=(\d+)", sub)
            if not bm:
                continue  # _SUCCESS etc. — handled with the gen dir
            if (gen, int(bm.group(1))) in live:
                keep_any = True
            else:
                shutil.rmtree(os.path.join(gen_path, sub), ignore_errors=True)
        if not keep_any:
            shutil.rmtree(gen_path, ignore_errors=True)


def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert VIA ``foreachBatch`` — the production streaming
    MERGE pattern none of the other streaming queries cover: each
    micro-batch latest-wins-merges into a persisted state table
    hash-bucketed by key and rewritten with DYNAMIC partition
    overwrite (standing in for Delta/Iceberg MERGE, which this
    container doesn't ship; the foreachBatch call-site is identical),
    so per-batch write cost scales with the keys the batch touches,
    never the full key space. The merge is IDEMPOTENT — a replayed
    batch re-merges to the same state, which is exactly how
    foreachBatch achieves effective exactly-once on top of at-least-
    once batch delivery. State is one row per user (bounded by keys,
    not events); replay == batch latest-per-user is the oracle."""
    from .cache_registry import tracked_mkdtemp
    from .sources import stream_table
    from .streaming import await_or_raise

    ev = stream_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    root = tracked_mkdtemp("stream_upsert_")
    _merge, cur = make_upsert_sink(root)
    q = (
        ev.writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    state = (
        read_upsert_state(spark, cur["dir"]) if cur["dir"] is not None else None
    )
    if state is None:  # empty source
        return spark.createDataFrame(
            [], "user_id long, ts timestamp, value double"
        )
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        (F.round("value", R) + F.lit(0.0)).alias("value"),
    )


STREAM_UPSERT_SQL = """
WITH m AS (SELECT user_id, max(ts) AS ts FROM events GROUP BY user_id)
SELECT e.user_id, e.ts, round(max(e.value), 9) + 0.0 AS value
FROM events e JOIN m ON m.user_id = e.user_id AND m.ts = e.ts
GROUP BY e.user_id, e.ts
"""


# --- C50 distributed logistic-regression TRAINING ---------------------------

LR_ITERS = 3     # batch gradient-descent iterations (unrolled in SQL)
#: learning rate — sized for RAW tf features (counts in the tens): at
#: 0.01 the log-loss decreases monotonically at every tested SF
#: (pinned in tests/test_scale_patterns.py); 0.5 visibly diverges.
LR_RATE = 0.01


def classifier_train_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression TRAINING over the C41 hashed
    features — the train-side counterpart of quality_classifier_scores
    (which only infers with fixed weights): label = (lang == 'en'),
    LR_ITERS batch gradient-descent steps, each iteration two
    doc-keyed aggregates (score pass + gradient pass) with the 256-
    float weight vector carried driver-side between iterations and
    re-broadcast — the Lloyd/BPE bounded-model-state pattern: the
    DATA never leaves the cluster, only the model does. Weights are
    rounded to 9 decimals per iteration ON BOTH ENGINES so float
    drift cannot compound across iterations (the Lloyd centroid
    trick). Output is the per-doc final score + prediction, so every
    trained weight influences every output row; predicted compares
    the ROUNDED score against 0 (sigmoid(s) > 0.5 <=> s > 0 — no exp
    at the decision boundary).

    Honest scope note: the synthetic corpus's ``lang`` column
    disagrees with its own token signal on ~1/3 of docs (the
    lang_mismatch rate), so accuracy tops out near the majority
    baseline — the query demonstrates the DISTRIBUTED TRAINING SHAPE
    (and its engine parity), pinned by the monotone-loss invariant,
    not a benchmark accuracy."""
    from .functions.text import tokens

    d = _docs(spark, sf_dir)
    feats = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .withColumn("bucket", F.substring(F.md5(F.col("tok")), 1, 2))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    labels = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    j = persist_tracked(feats.join(labels, "doc_id"))
    n = float(j.select("doc_id").distinct().count())  # bounded scalar

    w: dict[str, float] = {}
    for _ in range(LR_ITERS):
        wdf = spark.createDataFrame(
            sorted(w.items()) or [], "bucket string, w double"
        )
        scored = (
            j.join(F.broadcast(wdf), "bucket", "left")
            .groupBy("doc_id", "y")
            .agg(
                F.sum(F.col("tf") * F.coalesce(F.col("w"), F.lit(0.0))).alias(
                    "s"
                )
            )
        )
        resid = scored.select(
            "doc_id",
            (
                F.col("y")
                - F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("s")))
            ).alias("r"),
        )
        grad = (
            j.join(resid, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("tf") * F.col("r")).alias("g"))
        )
        neww = (
            grad.join(wdf, "bucket", "full_outer")
            .select(
                "bucket",
                F.round(
                    F.coalesce(F.col("w"), F.lit(0.0))
                    + (F.lit(LR_RATE) * F.coalesce(F.col("g"), F.lit(0.0)))
                    / F.lit(n),
                    R,
                ).alias("w"),
            )
        )
        w = {r["bucket"]: r["w"] for r in neww.collect()}  # <= 256 rows

    wdf = spark.createDataFrame(sorted(w.items()), "bucket string, w double")
    return (
        j.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("doc_id", "y")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.coalesce(F.col("w"), F.lit(0.0))), R
            ).alias("score")
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("y").cast("long").alias("label"),
            "score",
            (F.col("score") > 0).alias("predicted"),
        )
    )


def _lr_iter_sql(k: int) -> str:
    prev = f"w{k - 1}"
    return f"""
s{k} AS (
  SELECT j.doc_id, j.y, sum(j.tf * {prev}.w) AS s
  FROM j JOIN {prev} USING (bucket) GROUP BY j.doc_id, j.y
),
r{k} AS (SELECT doc_id, y - 1/(1 + exp(-s)) AS r FROM s{k}),
g{k} AS (
  SELECT j.bucket, sum(j.tf * r{k}.r) AS g
  FROM j JOIN r{k} USING (doc_id) GROUP BY j.bucket
),
w{k} AS (
  SELECT {prev}.bucket,
         round({prev}.w + ({LR_RATE} * coalesce(g{k}.g, 0)) / nn.n, 9) AS w
  FROM w{k - 1} LEFT JOIN g{k} USING (bucket) CROSS JOIN nn
)"""


# NB: the CTE names shadow per iteration (w1 reads w0, w2 reads w1...)
_LR_ITERS_SQL = ",".join(_lr_iter_sql(k) for k in range(1, LR_ITERS + 1))

CLASSIFIER_TRAIN_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents
),
f AS (
  SELECT doc_id, substr(md5(tok), 1, 2) AS bucket,
         CAST(count(*) AS DOUBLE) AS tf
  FROM t GROUP BY doc_id, bucket
),
l AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
j AS (SELECT f.doc_id, f.bucket, f.tf, l.y FROM f JOIN l USING (doc_id)),
nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM j),
w0 AS (SELECT DISTINCT bucket, 0.0 AS w FROM j),
{_LR_ITERS_SQL}
SELECT j.doc_id, CAST(j.y AS BIGINT) AS label,
       round(sum(j.tf * w{LR_ITERS}.w), 9) AS score,
       round(sum(j.tf * w{LR_ITERS}.w), 9) > 0 AS predicted
FROM j JOIN w{LR_ITERS} USING (bucket)
GROUP BY j.doc_id, j.y
"""


# --- C48 perceptual image dedup (dHash) -------------------------------------

# measured on testdata: true near-dup images (same degenerate resample
# pattern / shifted gradients) sit at hamming 0-1; the background pair
# distribution starts at 6 — 2 separates signal from noise, mirroring
# the SimHash threshold's derivation.
DHASH_MAX_HAMMING = 2


def _image_assets(spark: SparkSession, sf_dir: str):
    from .operators.multimodal import (
        attach_jpeg_pixel_payloads,
        attach_png_pixel_payloads,
    )

    docs = _docs(spark, sf_dir)
    return attach_png_pixel_payloads(docs).unionByName(
        attach_jpeg_pixel_payloads(docs)
    )


def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual 64-bit dHash per image, computed from REAL decoded
    pixels (PNG across all four color-type container forms + baseline
    JPEG): nearest-neighbor 9x8 grid sample, integer grayscale,
    adjacent-comparison bits — the image twin of doc_fingerprint.
    Zero shuffles: synthesis + decode + hash ride one Arrow pass.
    The oracle restates the hash ANALYTICALLY from the closed-form
    gradient (no codec): any bug in the decoders, the grid map, or
    the bit packing shifts the hash."""
    from .operators.multimodal import extract_dhash

    return extract_dhash(_image_assets(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "img_format",
        F.col("dhash_hi").cast("long").alias("dhash_hi"),
        F.col("dhash_lo").cast("long").alias("dhash_lo"),
    )


def image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs: the dHash signatures feed the exact
    SimHash band-blocking machinery (4 x 16-bit bands, count-capped
    hot values, map-side hamming filter) — perceptual image dedup
    with no O(n^2) step, the shape an image-corpus pipeline runs at
    100 TB. Re-encoded / resized copies collapse to hamming <= 2."""
    from .operators.dedup import simhash_near_dup_pairs
    from .operators.multimodal import extract_dhash
    from .queries_pipeline import SIMHASH_MAX_BUCKET

    sig = extract_dhash(_image_assets(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dhash_hi").alias("simhash_hi"),
        F.col("dhash_lo").alias("simhash_lo"),
    )
    return simhash_near_dup_pairs(
        sig, max_hamming=DHASH_MAX_HAMMING, max_bucket=SIMHASH_MAX_BUCKET
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


# the analytic dhash: the sampled grid is sx = x*w//9, sy = y*h//8
# (identical integer map to the codec-side dhash_bits); gray follows
# the synthesis closed forms — JPEG block-constant, PNG gradient with
# the gray-container special case (doc_id % 24 = 12), RGBA/palette
# decoding to the same RGB gradient as the plain form.
_DHASH_SIG_SQL = """
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN 'png' ELSE 'jpeg' END AS img_format,
         CAST(doc_id % 16 + 1 AS BIGINT) AS w,
         CAST(doc_id % 12 + 1 AS BIGINT) AS h
  FROM documents WHERE doc_id % 6 = 0 OR doc_id % 6 = 3
),
grid AS (
  SELECT d.doc_id, d.img_format, xs.x, ys.y,
         (xs.x * d.w) // 9 AS sx, (ys.y * d.h) // 8 AS sy
  FROM d
  JOIN generate_series(0, 8) AS xs(x) ON TRUE
  JOIN generate_series(0, 7) AS ys(y) ON TRUE
),
gr AS (
  SELECT doc_id, img_format, x, y,
    CASE WHEN img_format = 'jpeg'
         THEN (7*doc_id + 5*(sx//8) + 11*(sy//8)) % 256
         WHEN doc_id % 24 = 12 THEN (doc_id + sx + sy) % 256
         ELSE ((doc_id + sx + sy) % 256 + (2*doc_id + sx) % 256
               + (3*doc_id + sy) % 256) // 3
    END AS gray
  FROM grid
),
dbits AS (
  SELECT a.doc_id, a.img_format, a.y, a.x,
         CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
  FROM gr a JOIN gr b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
  WHERE a.x < 8
),
dsig AS (
  SELECT doc_id, img_format,
         CAST(sum(CASE WHEN y < 4 THEN bit * (1::BIGINT << (y*8 + x))
                       ELSE 0 END) AS BIGINT) AS dhash_hi,
         CAST(sum(CASE WHEN y >= 4 THEN bit * (1::BIGINT << ((y-4)*8 + x))
                       ELSE 0 END) AS BIGINT) AS dhash_lo
  FROM dbits GROUP BY doc_id, img_format
)"""

IMAGE_DHASH_SQL = f"""
WITH {_DHASH_SIG_SQL}
SELECT doc_id, img_format, dhash_hi, dhash_lo FROM dsig
"""

IMAGE_DHASH_PAIRS_SQL = f"""
WITH {_DHASH_SIG_SQL},
dbands AS (
  SELECT doc_id, dhash_hi, dhash_lo, 0 AS band, dhash_hi >> 16 AS val FROM dsig
  UNION ALL
  SELECT doc_id, dhash_hi, dhash_lo, 1, dhash_hi & 65535 FROM dsig
  UNION ALL
  SELECT doc_id, dhash_hi, dhash_lo, 2, dhash_lo >> 16 FROM dsig
  UNION ALL
  SELECT doc_id, dhash_hi, dhash_lo, 3, dhash_lo & 65535 FROM dsig
),
dhot AS (
  -- 1000 mirrors the Spark side's SIMHASH_MAX_BUCKET hot-value cap
  SELECT band, val FROM dbands GROUP BY band, val
  HAVING count(*) > 1000
),
dbands_c AS (
  SELECT b.* FROM dbands b
  WHERE NOT EXISTS (SELECT 1 FROM dhot h WHERE h.band = b.band AND h.val = b.val)
),
dcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.dhash_hi AS hi_a, a.dhash_lo AS lo_a,
         b.dhash_hi AS hi_b, b.dhash_lo AS lo_b
  FROM dbands_c a
  JOIN dbands_c b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT)
         AS hamming
FROM dcand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
      <= {DHASH_MAX_HAMMING}
"""


def image_dedup_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-corpus DEDUP DECISION: connected-component canonical
    assignment over the dHash near-dup graph (min-label propagation,
    same machinery as the text-side dedup_connected) — every image
    gets the minimum doc_id reachable through hamming <= 2 edges and
    keep = (doc is its own component minimum). dHash-0 clusters are
    cliques, so propagation converges in few hops; the fixed unroll
    matches the text pipeline's DEDUP_CC_ITERS and convergence is
    pytest-pinned."""
    from .operators.dedup import connected_canonical, simhash_near_dup_pairs
    from .operators.multimodal import extract_dhash
    from .queries_pipeline import DEDUP_CC_ITERS, SIMHASH_MAX_BUCKET

    sig = extract_dhash(_image_assets(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dhash_hi").alias("simhash_hi"),
        F.col("dhash_lo").alias("simhash_lo"),
    )
    pairs = simhash_near_dup_pairs(
        sig, max_hamming=DHASH_MAX_HAMMING, max_bucket=SIMHASH_MAX_BUCKET
    )
    ids = (
        _docs(spark, sf_dir)
        .filter((F.col("doc_id") % 6 == 0) | (F.col("doc_id") % 6 == 3))
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    out = connected_canonical(ids, pairs, iters=DEDUP_CC_ITERS)
    return out.select(
        "doc_id",
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "keep",
    )


def _img_cc_iter_sql(k: int) -> str:
    prev = f"il{k - 1}"
    return f"""
il{k} AS (
  SELECT l.doc_id, least(l.lab, coalesce(min(n.lab), l.lab)) AS lab
  FROM {prev} l
  LEFT JOIN ie ON ie.src = l.doc_id
  LEFT JOIN {prev} n ON n.doc_id = ie.dst
  GROUP BY l.doc_id, l.lab
)"""


def _image_cc_sql() -> str:
    from .queries_pipeline import DEDUP_CC_ITERS

    iters = ",".join(_img_cc_iter_sql(k) for k in range(1, DEDUP_CC_ITERS + 1))
    return f"""
WITH {_DHASH_SIG_SQL},
dbands AS (
  SELECT doc_id, dhash_hi, dhash_lo, 0 AS band, dhash_hi >> 16 AS val FROM dsig
  UNION ALL
  SELECT doc_id, dhash_hi, dhash_lo, 1, dhash_hi & 65535 FROM dsig
  UNION ALL
  SELECT doc_id, dhash_hi, dhash_lo, 2, dhash_lo >> 16 FROM dsig
  UNION ALL
  SELECT doc_id, dhash_hi, dhash_lo, 3, dhash_lo & 65535 FROM dsig
),
dhot AS (
  SELECT band, val FROM dbands GROUP BY band, val HAVING count(*) > 1000
),
dbands_c AS (
  SELECT b.* FROM dbands b
  WHERE NOT EXISTS (SELECT 1 FROM dhot h WHERE h.band = b.band AND h.val = b.val)
),
dcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.dhash_hi AS hi_a, a.dhash_lo AS lo_a,
         b.dhash_hi AS hi_b, b.dhash_lo AS lo_b
  FROM dbands_c a
  JOIN dbands_c b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
ip AS (
  SELECT id_a, id_b FROM dcand
  WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
        <= {DHASH_MAX_HAMMING}
),
ie AS (
  SELECT id_a AS src, id_b AS dst FROM ip
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM ip
),
il0 AS (
  SELECT doc_id, doc_id AS lab FROM documents
  WHERE doc_id % 6 = 0 OR doc_id % 6 = 3
),
{iters}
SELECT doc_id, lab AS canonical_id, doc_id = lab AS keep
FROM il{DEDUP_CC_ITERS}
"""


# --- C49 audio fingerprint ---------------------------------------------------

# measured on the synthesis family: identical-content clips land at
# hamming 0 with a thin 1-bit shoulder (183/22 pairs), then the
# background continuum starts at 2-3 rising steadily — 1 keeps the
# exact/re-encoded band and none of the continuum.
AUDIO_FP_MAX_HAMMING = 1


def audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit audio energy fingerprint per clip from REAL decoded PCM
    (RIFF/WAVE chunk walk): AUDIO_FP_BINS time-frame energies,
    adjacent-comparison bits — the audio member of the cross-modality
    near-dup family (text MinHash/SimHash, image dHash, embedding
    cosine). Zero shuffles: synthesis + decode + fingerprint ride one
    Arrow pass. The oracle restates the fingerprint ANALYTICALLY from
    the closed-form sawtooth (no codec)."""
    from .operators.multimodal import (
        attach_wav_audio_payloads,
        extract_audio_fp,
    )

    return extract_audio_fp(
        attach_wav_audio_payloads(_docs(spark, sf_dir))
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("afp_hi").cast("long").alias("afp_hi"),
        F.col("afp_lo").cast("long").alias("afp_lo"),
    )


def audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs: the energy fingerprints feed the
    SimHash band-blocking machinery (4 x 16-bit bands, count-capped
    hot values, map-side hamming filter) — re-encoded / container-
    variant copies of a clip collapse to hamming <= 1 with no O(n^2)
    step."""
    from .operators.dedup import simhash_near_dup_pairs
    from .operators.multimodal import (
        attach_wav_audio_payloads,
        extract_audio_fp,
    )
    from .queries_pipeline import SIMHASH_MAX_BUCKET

    sig = extract_audio_fp(
        attach_wav_audio_payloads(_docs(spark, sf_dir))
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("afp_hi").alias("simhash_hi"),
        F.col("afp_lo").alias("simhash_lo"),
    )
    return simhash_near_dup_pairs(
        sig, max_hamming=AUDIO_FP_MAX_HAMMING, max_bucket=SIMHASH_MAX_BUCKET
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


# analytic fingerprint: s(i) = (13*id + 7*i) % 2001 - 1000 over
# n = id % AUDIO_MAX_N + AUDIO_MIN_N samples; frame(i) = i*65//n with
# empty frames at zero energy (LEFT JOIN against the full frame
# series), E_f = sum(s^2) exact in BIGINT.
_AUDIO_FP_SIG_SQL = """
ad AS (
  SELECT doc_id, CAST(doc_id % 240 + 16 AS BIGINT) AS n
  FROM documents WHERE doc_id % 3 = 1
),
sm AS (
  SELECT ad.doc_id, ad.n, ii.i,
         ((13*ad.doc_id + 7*ii.i) % 2001 - 1000) AS s
  FROM ad JOIN generate_series(0, 255) AS ii(i) ON ii.i < ad.n
),
fe AS (
  SELECT doc_id, n, (i * 65) // n AS f, sum(s*s) AS e
  FROM sm GROUP BY doc_id, n, (i * 65) // n
),
allf AS (
  SELECT ad.doc_id, ad.n, ff.f, COALESCE(fe.e, 0) AS e
  FROM ad JOIN generate_series(0, 64) AS ff(f) ON TRUE
  LEFT JOIN fe ON fe.doc_id = ad.doc_id AND fe.f = ff.f
),
abits AS (
  SELECT a.doc_id, a.n, a.f, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM allf a JOIN allf b ON b.doc_id = a.doc_id AND b.f = a.f + 1
  WHERE a.f < 64
),
asig AS (
  SELECT doc_id, n AS n_samples,
    CAST(sum(CASE WHEN f < 32 THEN bit * (1::BIGINT << f) ELSE 0 END)
         AS BIGINT) AS afp_hi,
    CAST(sum(CASE WHEN f >= 32 THEN bit * (1::BIGINT << (f - 32)) ELSE 0 END)
         AS BIGINT) AS afp_lo
  FROM abits GROUP BY doc_id, n
)"""

AUDIO_FP_SQL = f"""
WITH {_AUDIO_FP_SIG_SQL}
SELECT doc_id, n_samples, afp_hi, afp_lo FROM asig
"""

AUDIO_FP_PAIRS_SQL = f"""
WITH {_AUDIO_FP_SIG_SQL},
fbands AS (
  SELECT doc_id, afp_hi, afp_lo, 0 AS band, afp_hi >> 16 AS val FROM asig
  UNION ALL
  SELECT doc_id, afp_hi, afp_lo, 1, afp_hi & 65535 FROM asig
  UNION ALL
  SELECT doc_id, afp_hi, afp_lo, 2, afp_lo >> 16 FROM asig
  UNION ALL
  SELECT doc_id, afp_hi, afp_lo, 3, afp_lo & 65535 FROM asig
),
fhot AS (
  -- 1000 mirrors the Spark side's SIMHASH_MAX_BUCKET hot-value cap
  SELECT band, val FROM fbands GROUP BY band, val
  HAVING count(*) > 1000
),
fbands_c AS (
  SELECT b.* FROM fbands b
  WHERE NOT EXISTS (SELECT 1 FROM fhot h WHERE h.band = b.band AND h.val = b.val)
),
fcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.afp_hi AS hi_a, a.afp_lo AS lo_a,
         b.afp_hi AS hi_b, b.afp_lo AS lo_b
  FROM fbands_c a
  JOIN fbands_c b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT)
         AS hamming
FROM fcand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
      <= {AUDIO_FP_MAX_HAMMING}
"""


PIPELINE_EXTRAS_QUERIES = {
    "image_dhash": image_dhash,
    "image_dhash_pairs": image_dhash_pairs,
    "audio_fingerprint": audio_fingerprint,
    "audio_fp_pairs": audio_fp_pairs,
    "stream_upsert": stream_upsert,
    "stream_join_outer": stream_join_outer,
    "classifier_train_lr": classifier_train_lr,
    "image_dedup_connected": image_dedup_connected,
    "doc_repetition": doc_repetition,
    "doc_winnowing": doc_winnowing,
    "quality_thresholds_by_lang": quality_thresholds_by_lang,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_near": dedup_incremental_near,
    "multimodal_pixels": multimodal_pixels,
    "multimodal_audio": multimodal_audio,
    "multimodal_resize": multimodal_resize,
    "multimodal_frames": multimodal_frames,
    "multimodal_gif": multimodal_gif,
    "multimodal_stream_decode": multimodal_stream_decode,
    "doc_feature_hashing": doc_feature_hashing,
    "corpus_mixture_weights": corpus_mixture_weights,
    "quality_classifier_scores": quality_classifier_scores,
    "ann_pq_rerank": ann_pq_rerank,
    "embedding_outliers": embedding_outliers,
    "contamination_check": contamination_check,
    "train_val_split": train_val_split,
    "pii_scrub": pii_scrub,
    "embedding_quantize": embedding_quantize,
    "sequence_pack": sequence_pack,
    "corpus_filter_pipeline": corpus_filter_pipeline,
    "ngram_counts": ngram_counts,
    "dedup_substring": dedup_substring,
    "bpe_train": bpe_train,
    "ann_pq_topk": ann_pq_topk,
    "dedup_semantic": dedup_semantic,
    "stratified_sample": stratified_sample,
    "stream_dedup": stream_dedup,
    "stream_join": stream_join,
    "token_cms_topk": token_cms_topk,
    "doc_perplexity": doc_perplexity,
    "stream_session": stream_session,
    "stream_session_dynamic": stream_session_dynamic,
    "bpe_apply": bpe_apply,
    "stream_enrich": stream_enrich,
}

PIPELINE_EXTRAS_ORACLES = {
    "image_dhash": IMAGE_DHASH_SQL,
    "image_dhash_pairs": IMAGE_DHASH_PAIRS_SQL,
    "audio_fingerprint": AUDIO_FP_SQL,
    "audio_fp_pairs": AUDIO_FP_PAIRS_SQL,
    "stream_upsert": STREAM_UPSERT_SQL,
    "stream_join_outer": STREAM_JOIN_OUTER_SQL,
    "classifier_train_lr": CLASSIFIER_TRAIN_SQL,
    "image_dedup_connected": _image_cc_sql(),
    "doc_repetition": DOC_REPETITION_SQL,
    "doc_winnowing": DOC_WINNOWING_SQL,
    "quality_thresholds_by_lang": QUALITY_THRESHOLDS_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "dedup_incremental_near": DEDUP_INCREMENTAL_NEAR_SQL,
    "multimodal_pixels": MULTIMODAL_PIXELS_SQL,
    "multimodal_audio": MULTIMODAL_AUDIO_SQL,
    "multimodal_resize": MULTIMODAL_RESIZE_SQL,
    "multimodal_frames": MULTIMODAL_FRAMES_SQL,
    "multimodal_gif": MULTIMODAL_GIF_SQL,
    # replay == batch: the streaming decode shares C37's closed-form oracle
    "multimodal_stream_decode": MULTIMODAL_AUDIO_SQL,
    "doc_feature_hashing": DOC_FEATURE_HASHING_SQL,
    "corpus_mixture_weights": CORPUS_MIXTURE_SQL,
    "quality_classifier_scores": QUALITY_CLASSIFIER_SQL,
    "ann_pq_rerank": ANN_PQ_RERANK_SQL,
    "embedding_outliers": EMBEDDING_OUTLIERS_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "train_val_split": TRAIN_VAL_SPLIT_SQL,
    "pii_scrub": PII_SCRUB_SQL,
    "embedding_quantize": EMBEDDING_QUANTIZE_SQL,
    "sequence_pack": SEQUENCE_PACK_SQL,
    "corpus_filter_pipeline": CORPUS_FILTER_SQL,
    "ngram_counts": NGRAM_COUNTS_SQL,
    "dedup_substring": DEDUP_SUBSTRING_SQL,
    "bpe_train": BPE_TRAIN_SQL,
    "ann_pq_topk": ANN_PQ_SQL,
    "dedup_semantic": DEDUP_SEMANTIC_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "stream_dedup": STREAM_DEDUP_SQL,
    "stream_join": STREAM_JOIN_SQL,
    "token_cms_topk": TOKEN_CMS_SQL,
    "doc_perplexity": DOC_PERPLEXITY_SQL,
    "stream_session": STREAM_SESSION_SQL,
    "stream_session_dynamic": STREAM_SESSION_DYNAMIC_SQL,
    "bpe_apply": BPE_APPLY_SQL,
    "stream_enrich": STREAM_ENRICH_SQL,
}
