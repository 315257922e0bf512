"""Training-data pipeline operations: dataset audit + deterministic
splits.

Two ops every 100 TB ingest needs before any model sees the data:

* **column profiling** — null rates, exact distinct counts, ranges,
  computed in ONE scan (a struct-per-column aggregate exploded to long
  format), not one scan per column: at 100 TB the scan IS the cost.
* **deterministic hash split** — train/test assignment must be a pure
  function of the row key, not a random() that reshuffles every run
  (irreproducible) or a sorted-prefix split (biased by key order).
  md5 is used instead of Spark's murmur ``hash()`` precisely so the
  split is portable: any engine (here: the DuckDB oracle) re-derives
  the identical assignment.

The reference (huunhan1804/web-attack-detection) splits train/test by
FILE (partition CSVs 1,3,4 vs 2 — ``main.py:28-44``), which is neither
reproducible at the row level nor rebalanceable; SURVEY.md §2.1 S2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_attack_detection_spark.io.sources import load_table
from web_attack_detection_spark.plans.registry import register

# ---------------------------------------------------------------------------
# one-scan column profile (lineitem numeric columns)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       MIN({c}) AS min_val,
       MAX({c}) AS max_val
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register(
    "pipe_profile_columns",
    _PROFILE_ORACLE,
    doc="dataset audit: nulls / exact NDV / range per column, one scan",
)
def pipe_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-column stats in a single aggregate (the oracle's
    UNION-ALL-of-scans form is the semantic spec, not the plan): one
    pass over the fact table computes count/nulls/NDV/min/max for
    every profiled column at once, then a generator pivots the single
    result row to long format — driver-side cost is one row. Exact NDV
    shuffles per-column distinct sets; swap in approx_count_distinct
    when ±2% suffices at 100 TB (rel_approx_aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(F.col(c)).alias(f"{c}__ndv"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__n").alias("n_rows"),
                        F.col(f"{c}__null").alias("n_null"),
                        F.col(f"{c}__ndv").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_val"),
                        F.col(f"{c}__max").alias("max_val"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


# ---------------------------------------------------------------------------
# deterministic md5 train/test split (80/20) over documents
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                   AS INTEGER) < 205
              THEN 'train' ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned
GROUP BY split, lang
"""


@register(
    "pipe_hash_split",
    _SPLIT_ORACLE,
    doc="deterministic md5-keyed 80/20 split, portable across engines",
)
def pipe_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split = first md5 byte of the key < 205 (~80.1% of 256). Pure
    row-local function — no shuffle to assign, stable under
    re-partitioning, re-runs, and engine swaps (the oracle re-derives
    it in DuckDB byte-for-byte), and any related-row leakage control
    just changes the hashed key (hash the GROUP id to keep groups
    together). The aggregation here audits the split balance per
    language."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2), 16, 10
    ).cast("int")
    assigned = docs.select(
        "lang",
        "n_chars",
        F.when(bucket < 205, "train").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# end-to-end training-corpus build: plant -> quality filter -> exact
# dedup -> decontaminate -> mixture manifest, in ONE query.
# ---------------------------------------------------------------------------

_CORPUS_ORACLE = """
WITH eval AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 53 = 0
),
train0 AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 53 <> 0
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, text, lang, source
  FROM documents WHERE doc_id % 97 = 0
),
q AS (
  SELECT *, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
  FROM train0
),
qf AS (SELECT * FROM q WHERE n_tok >= 5),
surv AS (SELECT MIN(doc_id) AS doc_id FROM qf GROUP BY text),
kept AS (SELECT qf.* FROM qf JOIN surv USING (doc_id)),
k_tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM kept),
e_tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM eval),
k_sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
  FROM k_tok, UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS r(i)
),
e_sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
  FROM e_tok, UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS r(i)
),
contam AS (SELECT DISTINCT k_sh.doc_id FROM k_sh JOIN e_sh USING (shingle)),
clean AS (
  SELECT * FROM kept
  WHERE NOT EXISTS (SELECT 1 FROM contam WHERE contam.doc_id = kept.doc_id)
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(n_tok) AS BIGINT)
             / CAST(CAST(SUM(SUM(n_tok)) OVER () AS BIGINT) AS DOUBLE),
             6) AS weight
FROM clean
GROUP BY lang, source
"""


@register(
    "pipe_training_corpus",
    _CORPUS_ORACLE,
    doc="end-to-end corpus build: quality -> exact dedup -> decontaminate -> mixture manifest",
)
def pipe_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pre-training corpus build as one composed plan, with
    planted hazards the stages must catch: duplicate copies (every 97th
    doc re-inserted under a shifted id) and benchmark leakage (every
    53rd doc is the eval set; its planted copies reach the train side
    and must be removed by DECONTAMINATION, not dedup, because dedup's
    survivor choice can keep the copy when the original is eval-only).

    Stage shapes at 100 TB:

    - quality filter: map-only scan (token count is a per-row expr);
    - exact dedup: drop_exact_duplicates (window min-id survivor) —
      ONE shuffle on text and no join-back, vs the groupBy+self-join
      form which shuffles twice and sort-merge-joins the corpus
      against itself (measured: the window form removes the only
      SortMergeJoin from this plan);
    - decontamination: eval shingles broadcast; corpus side stays
      map-only + one semi/anti-join (plans/text3.text_decontaminate);
    - manifest: tiny groupBy over (lang, source) + a one-row window for
      the weight denominator.

    The mixture weights feed proportional sampling exactly like
    text_mixture_weights; this query is the full pipeline those
    weights normally sit at the end of.
    """
    from web_attack_detection_spark.operators.dedup import (
        drop_exact_duplicates,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 53 == 0).select("doc_id", "text")
    train0 = docs.filter(F.col("doc_id") % 53 != 0).select(
        "doc_id", "text", "lang", "source"
    ).unionByName(
        docs.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"), "text", "lang", "source"
        )
    )
    qf = train0.withColumn(
        "n_tok", F.size(F.split("text", r"\s+")).cast("long")
    ).filter(F.col("n_tok") >= 5)
    kept = drop_exact_duplicates(qf, ["text"], "doc_id")
    k_sh = shingles(kept.select("doc_id", "text"), "text", "doc_id", n=5)
    e_sh = shingles(ev, "text", "doc_id", n=5).withColumnRenamed("id", "eval_id")
    contam = (
        k_sh.join(F.broadcast(e_sh), "shingle").select(F.col("id").alias("doc_id")).distinct()
    )
    # contaminated-id set is bounded by the (small) eval-reachable docs
    # — broadcast the anti-join so the corpus is never shuffled for it
    clean = kept.join(F.broadcast(contam), "doc_id", "left_anti")
    grp = clean.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )
    w = Window.partitionBy()
    return grp.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("total_tokens") / F.sum("total_tokens").over(w).cast("double"), 6
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# dataset card: the per-source audit datasheet a corpus release ships
# ---------------------------------------------------------------------------

_CARD_ORACLE = """
WITH base AS (
  SELECT source, doc_id, text,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
eval AS (SELECT doc_id, text FROM documents WHERE doc_id % 53 = 0),
e_tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM eval),
e_sh AS (
  SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS shingle
  FROM e_tok, UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS r(i)
),
b_tok AS (SELECT source, doc_id, string_split_regex(text, '\\s+') AS t FROM base),
b_sh AS (
  SELECT DISTINCT source, doc_id, array_to_string(t[i:i+4], ' ') AS shingle
  FROM b_tok, UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS r(i)
),
contam AS (
  SELECT DISTINCT source, doc_id FROM b_sh JOIN e_sh USING (shingle)
),
per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN n_tok < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         list_sort(list(n_tok))[CAST(ceil(0.5 * COUNT(*)) AS INTEGER)] AS p50_tokens
  FROM base GROUP BY source
),
contam_n AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_contaminated
  FROM contam GROUP BY source
)
SELECT p.source, n_docs, n_distinct_texts, total_tokens, n_short, p50_tokens,
       CAST(COALESCE(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       ROUND(total_tokens /
             CAST(CAST(SUM(total_tokens) OVER () AS BIGINT) AS DOUBLE), 6)
         AS token_share
FROM per_source p LEFT JOIN contam_n c ON p.source = c.source
"""


@register(
    "pipe_dataset_card",
    _CARD_ORACLE,
    doc="per-source dataset card: docs/tokens/dups/short/median/contamination/share",
)
def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit datasheet a corpus release ships, per source: volume
    (docs, tokens, token share), integrity (distinct texts vs docs —
    the exact-dup signal), quality (short-doc count, exact median
    length), and benchmark contamination (docs sharing a 5-gram with
    the eval set). One scan for the per-source stats + the broadcast
    eval-shingle contamination join from text_decontaminate; exact
    median over BIGINT token counts is engine-deterministic (both
    engines take the lower middle element via the same count parity).

    This is the composition users actually run nightly over a corpus;
    every component column is individually oracle-checked elsewhere
    (dedup_exact, text_token_count, text_decontaminate,
    text_mixture_weights) — the card proves they compose in one plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        "text",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tok"),
    )
    from web_attack_detection_spark.operators.dedup import shingles

    ev = docs.filter(F.col("doc_id") % 53 == 0).select("doc_id", "text")
    e_sh = shingles(ev, "text", "doc_id", n=5).select("shingle").distinct()
    b_sh = shingles(base.select("doc_id", "text"), "text", "doc_id", n=5)
    contam = (
        b_sh.join(F.broadcast(e_sh), "shingle")
        .select(F.col("id").alias("doc_id"))
        .distinct()
        .join(base.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("text").alias("n_distinct_texts"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(F.when(F.col("n_tok") < 5, 1).otherwise(0)).cast("long").alias("n_short"),
        # pinned element-at-ceil(p*n) formula (rel_percentile_disc):
        # engine-native median/percentile_disc disagree on even groups
        F.element_at(
            F.array_sort(F.collect_list("n_tok")),
            F.ceil(F.count(F.lit(1)) * 0.5).cast("int"),
        ).alias("p50_tokens"),
    )
    from pyspark.sql import Window

    return (
        per_source.join(F.broadcast(contam), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            "total_tokens",
            "n_short",
            "p50_tokens",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.col("total_tokens")
                / F.sum("total_tokens").over(Window.partitionBy()).cast("double"),
                6,
            ).alias("token_share"),
        )
    )


# ---------------------------------------------------------------------------
# weighted corpus sampling: spend a token budget per (lang, source) in
# deterministic hash order — the APPLICATION of mixture weights.
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = """
WITH base AS (
  SELECT lang, source, doc_id,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok,
         (doc_id * 2654435761) % 4294967296 AS h
  FROM documents
),
totals AS (
  SELECT lang, source, CAST(SUM(n_tok) AS BIGINT) AS grp_tok
  FROM base GROUP BY lang, source
),
grand AS (SELECT CAST(SUM(grp_tok) AS BIGINT) AS all_tok FROM totals),
budgets AS (
  SELECT lang, source, grp_tok,
         (grp_tok * (all_tok // 4)) // all_tok AS budget
  FROM totals CROSS JOIN grand
),
ordered AS (
  SELECT b.lang, b.source, b.doc_id, b.n_tok,
         CAST(SUM(b.n_tok) OVER (PARTITION BY b.lang, b.source
                                 ORDER BY b.h, b.doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tok
  FROM base b
),
picked AS (
  SELECT o.lang, o.source, o.doc_id, o.n_tok
  FROM ordered o JOIN budgets USING (lang, source)
  WHERE o.cum_tok <= budgets.budget
)
SELECT b.lang, b.source, b.budget,
       CAST(COUNT(p.doc_id) AS BIGINT) AS n_selected,
       CAST(COALESCE(SUM(p.n_tok), 0) AS BIGINT) AS tokens_selected,
       CAST(COALESCE(SUM(p.doc_id), 0) AS BIGINT) AS id_checksum
FROM budgets b LEFT JOIN picked p USING (lang, source)
GROUP BY b.lang, b.source, b.budget
"""


@register(
    "pipe_weighted_sample",
    _WSAMPLE_ORACLE,
    doc="mixture-weight application: fill per-group token budgets in deterministic hash order",
)
def pipe_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn mixture weights into an actual sample: each (lang, source)
    group gets an integer token budget (its share of a quarter-size
    target corpus, exact integer division) and spends it on documents
    in Knuth-hash order until the running token total would exceed the
    budget. Deterministic end-to-end — rerunning, repartitioning, or
    switching engines selects the SAME documents (the
    rel_stratified_sample portability argument applied to budgeted
    sampling; id_checksum pins the selection, not just its size).
    One window per group + two tiny aggregates; at 100 TB the window
    partitions by the mixture key, so no global ordering exists
    anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tok"),
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).alias("h"),
    )
    totals = base.groupBy("lang", "source").agg(F.sum("n_tok").alias("grp_tok"))
    grand = totals.agg(F.sum("grp_tok").alias("all_tok"))
    budgets = totals.join(F.broadcast(grand)).select(
        "lang",
        "source",
        F.expr("(grp_tok * (all_tok div 4)) div all_tok").alias("budget"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = base.withColumn("cum_tok", F.sum("n_tok").over(w))
    picked = ordered.join(F.broadcast(budgets), ["lang", "source"]).filter(
        F.col("cum_tok") <= F.col("budget")
    )
    return (
        budgets.join(
            picked.groupBy("lang", "source").agg(
                F.count(F.lit(1)).alias("n_selected"),
                F.sum("n_tok").alias("tokens_selected"),
                F.sum("doc_id").alias("id_checksum"),
            ),
            ["lang", "source"],
            "left",
        )
        .select(
            "lang",
            "source",
            "budget",
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce("tokens_selected", F.lit(0)).cast("long").alias("tokens_selected"),
            F.coalesce("id_checksum", F.lit(0)).cast("long").alias("id_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# training-mixture scheduling: largest-remainder apportionment
# ---------------------------------------------------------------------------

_EPOCH_DOCS = 1000

_MIXTURE_SCHEDULE_ORACLE = f"""
WITH w AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS wt FROM w),
quotas AS (
  SELECT w.source, w.weight,
         CAST(({_EPOCH_DOCS} * w.weight) // t.wt AS BIGINT) AS quota,
         CAST({_EPOCH_DOCS} * w.weight - (({_EPOCH_DOCS} * w.weight) // t.wt) * t.wt
              AS BIGINT) AS remainder_scaled
  FROM w, tot t
),
short AS (
  SELECT CAST({_EPOCH_DOCS} - SUM(quota) AS BIGINT) AS n_extra FROM quotas
),
ranked AS (
  SELECT q.*, s.n_extra,
         ROW_NUMBER() OVER (ORDER BY q.remainder_scaled DESC, q.source ASC) AS rk
  FROM quotas q, short s
)
SELECT source, weight, quota,
       CAST(CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(quota + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked
"""


@register(
    "pipe_mixture_schedule",
    _MIXTURE_SCHEDULE_ORACLE,
    doc="training-mixture apportionment: largest-remainder allocation of epoch slots",
)
def pipe_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture scheduling for a training epoch: each
    source gets slots proportional to its weight (total characters —
    swap in any quality-scaled weight), apportioned by the largest-
    remainder (Hamilton) method so the allocations are integers that
    sum EXACTLY to the epoch size. The remainder comparison uses the
    scaled integer E*w - quota*W — no division ever happens, so the
    entire allocation is exact BIGINT arithmetic and can never differ
    between engines, retries, or partition orders (allocators that
    rank on float fractions flap under re-execution; this one
    cannot). Scale: one groupBy(source) + two broadcast scalars + a
    |sources|-row window — the per-source table is tiny at any corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(F.sum("n_chars").cast("long").alias("weight"))
    tot = w.agg(F.sum("weight").cast("long").alias("wt"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "weight",
        F.expr(f"({_EPOCH_DOCS} * weight) DIV wt").cast("long").alias("quota"),
        (
            _EPOCH_DOCS * F.col("weight")
            - F.expr(f"({_EPOCH_DOCS} * weight) DIV wt") * F.col("wt")
        )
        .cast("long")
        .alias("remainder_scaled"),
    )
    short = q.agg((_EPOCH_DOCS - F.sum("quota")).cast("long").alias("n_extra"))
    rw = Window.orderBy(F.col("remainder_scaled").desc(), F.col("source").asc())
    ranked = q.crossJoin(F.broadcast(short)).withColumn(
        "rk", F.row_number().over(rw)
    )
    extra = F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
    return ranked.select(
        "source",
        "weight",
        "quota",
        extra.cast("long").alias("extra"),
        (F.col("quota") + extra).cast("long").alias("alloc"),
    )


# ---------------------------------------------------------------------------
# reproducible epoch shuffling (LCG permutation, exact integers)
# ---------------------------------------------------------------------------

# Full-period LCG over m = 2^20 (Hull-Dobell: c odd, a-1 divisible by
# 4): position(doc) = (a*doc_id + c) mod m is a bijection on [0, m),
# so ordering by it is a deterministic pseudo-random permutation.
_LCG_A = 1103515245 % (1 << 20) * 4 + 1  # ensure a ≡ 1 (mod 4)
_LCG_C = 12345
_LCG_M = 1 << 20

_EPOCH_SHUFFLE_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, source,
         ({_LCG_A} * doc_id + {_LCG_C}) % {_LCG_M} AS shuffle_key
  FROM documents
),
ranked AS (
  SELECT doc_id, source, CAST(shuffle_key AS BIGINT) AS shuffle_key,
         ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS position
  FROM pos
)
SELECT doc_id, source, shuffle_key, CAST(position AS BIGINT) AS position
FROM ranked WHERE position <= 20
"""


@register(
    "pipe_epoch_shuffle",
    _EPOCH_SHUFFLE_ORACLE,
    doc="reproducible training-order shuffle via LCG permutation, exact integers",
)
def pipe_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch ordering: training wants a different
    pseudo-random document order each epoch, but the SAME order on
    every retry of the same epoch — engine RNGs (rand(), shuffle)
    give neither. Ordering by a full-period LCG of the doc id
    ((a*id + c) mod 2^20, Hull-Dobell coefficients so the map is a
    bijection) is a deterministic permutation computable by any
    engine with integer arithmetic. Per-epoch reseeding must bump the
    MULTIPLIER a (keeping a ≡ 1 mod 4 for the Hull-Dobell bijection):
    bumping c alone only shifts every key by a constant, i.e. a
    cyclic ROTATION of the same order at the modulus wraparound — the
    same linear-salt trap the r6 advice found in the trainer's
    minibatch hash (ml/train._shard_ids has the fully-mixed form).
    The query emits the first 20 positions of epoch 0 as the
    checkable prefix. Scale: the sort key is computed map-side and the
    prefix is taken with orderBy().limit() — Spark compiles that to
    TakeOrderedAndProject (per-partition top-k heaps merged on the
    driver), NEVER a single-partition global window; the only window
    left runs over the already-limited 20-row result to number it.
    A full-epoch materialization would range-partition on shuffle_key
    so each partition IS a contiguous slice of the permutation."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        "source",
        ((_LCG_A * F.col("doc_id") + _LCG_C) % _LCG_M)
        .cast("long")
        .alias("shuffle_key"),
    )
    head = pos.orderBy("shuffle_key", "doc_id").limit(20)
    w = Window.orderBy("shuffle_key", "doc_id")
    return head.withColumn("position", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# materialized total-order epoch export (the write side of epoch_shuffle)
# ---------------------------------------------------------------------------

_SORTED_EXPORT_SHARDS = 16

_SORTED_EXPORT_ORACLE = f"""
WITH pos AS (
  SELECT doc_id,
         CAST(({_LCG_A} * doc_id + {_LCG_C}) % {_LCG_M} AS BIGINT) AS shuffle_key
  FROM documents
),
r AS (
  SELECT doc_id, shuffle_key,
         CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
         CAST(NTILE({_SORTED_EXPORT_SHARDS})
              OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS shard
  FROM pos
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CAST(MAX(pos) AS BIGINT) AS last_pos,
       CAST(MIN(shuffle_key) AS BIGINT) AS min_key,
       CAST(MAX(shuffle_key) AS BIGINT) AS max_key,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM r GROUP BY shard
"""


@register(
    "pipe_sorted_export",
    _SORTED_EXPORT_ORACLE,
    doc=f"materialized epoch export: total permutation order landed as {_SORTED_EXPORT_SHARDS} contiguous shards, manifest read back from disk",
)
def pipe_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of ``pipe_epoch_shuffle``: materialize the whole
    LCG-permuted epoch order to disk as contiguous shards — what a
    training job actually consumes (shard k = positions in one
    contiguous slice of the permutation, so a sequential reader of
    shard files IS the epoch order). The exact global position of
    every document comes from the distributed two-phase rank
    (operators/ranking.py — never a single-task sort), the shard cut
    is exact NTILE arithmetic on (position, total), and the export is
    a partitioned parquet write to a content-keyed dir. The returned
    manifest — per-shard doc counts, position ranges, key ranges, id
    checksums — is aggregated from the WRITTEN files, so the oracle
    (plain ROW_NUMBER/NTILE SQL over the origin) value-checks the
    landed data end to end; contiguity is visible in the result
    itself (each shard's first_pos = previous last_pos + 1)."""
    from web_attack_detection_spark.operators.ranking import (
        ntile_from_rank,
        ranged_row_number,
    )
    from web_attack_detection_spark.plans.ioq import _stable_dir

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        ((_LCG_A * F.col("doc_id") + _LCG_C) % _LCG_M)
        .cast("long")
        .alias("shuffle_key"),
    )
    ranked = ranged_row_number(
        pos,
        "shuffle_key",
        [F.col("shuffle_key").asc(), F.col("doc_id").asc()],
        rn_col="pos",
        total_col="n",
    )
    sharded = ranked.select(
        "doc_id",
        "shuffle_key",
        "pos",
        ntile_from_rank(F.col("pos"), F.col("n"), _SORTED_EXPORT_SHARDS).alias(
            "shard"
        ),
    )
    loc = _stable_dir(spark, "epoch_export", sf_dir)
    (
        sharded.repartition(_SORTED_EXPORT_SHARDS, "shard")
        # sort by (shard, pos): the dynamic-partition writer REQUIRES
        # ordering by the partition column and would insert its own
        # SortExec on shard alone, leaving the on-disk pos-ordering to
        # that sort's (undocumented) stability.  Pre-satisfying the
        # writer's requirement makes the per-file pos order a plan
        # guarantee, not a stability accident (ADVICE r5).
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(loc)
    )
    landed = spark.read.parquet(loc)
    return landed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("pos").cast("long").alias("first_pos"),
        F.max("pos").cast("long").alias("last_pos"),
        F.min("shuffle_key").cast("long").alias("min_key"),
        F.max("shuffle_key").cast("long").alias("max_key"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    ).select(
        F.col("shard").cast("long"), "n_docs", "first_pos", "last_pos",
        "min_key", "max_key", "id_checksum",
    )


# ---------------------------------------------------------------------------
# data-quality gates via the Observation API (metrics ride the write)
# ---------------------------------------------------------------------------

_OBSERVED_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS total_value,
       CAST(MIN(user_id) AS BIGINT) AS min_user,
       CAST(MAX(user_id) AS BIGINT) AS max_user
FROM events
"""


@register(
    "pipe_observed_quality",
    _OBSERVED_ORACLE,
    doc="quality gates via Observation: metrics ride the materialization pass, zero extra scans",
)
def pipe_observed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality gate every production materialization needs:
    row counts, error counts, integer-exact value totals, and key
    ranges collected by the Observation API ON the same pass that
    writes the dataset out — zero extra scans, which at 100 TB is the
    difference between 'free metrics' and 'the pipeline runs twice'
    (the fused feature fit uses the same trick internally,
    functions/feature.py). The observed write lands in a
    content-keyed warehouse dir; the returned one-row frame is the
    gate record a scheduler would assert on, and the oracle recomputes
    every metric from the origin — so the observe-side numbers are
    themselves oracle-checked."""
    from pyspark.sql import Observation

    from web_attack_detection_spark.plans.ioq import _stable_dir

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
    )
    loc = _stable_dir(spark, "observed_events", sf_dir)
    observed.write.mode("overwrite").parquet(loc)
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_errors"],
                round(m["cents"] / 100.0, 2),
                m["min_user"],
                m["max_user"],
            )
        ],
        "n_rows long, n_errors long, total_value double, min_user long, max_user long",
    )


# ---------------------------------------------------------------------------
# language rebalancing: Hamilton quotas + deterministic hash sampling
# ---------------------------------------------------------------------------

_REBALANCE_SLOTS = 200

_REBALANCE_ORACLE = f"""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM counts),
quota AS (
  SELECT c.lang, c.n,
         CAST({_REBALANCE_SLOTS} * c.n // t.nn AS BIGINT) AS base,
         CAST(({_REBALANCE_SLOTS} * c.n) % t.nn AS BIGINT) AS rem
  FROM counts c, tot t
),
leftover AS (SELECT CAST({_REBALANCE_SLOTS} - SUM(base) AS BIGINT) AS l FROM quota),
alloc AS (
  SELECT lang, n,
         base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
                          <= (SELECT l FROM leftover)
                THEN 1 ELSE 0 END AS alloc
  FROM quota
),
ranked AS (
  SELECT d.lang, d.doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY d.lang
           ORDER BY (d.doc_id * 2654435761) % 4294967296 ASC, d.doc_id ASC
         ) AS rk
  FROM documents d
),
sel AS (
  SELECT r.lang, r.doc_id
  FROM ranked r JOIN alloc a ON a.lang = r.lang
  WHERE r.rk <= a.alloc
)
SELECT a.lang, a.n AS n_docs, CAST(a.alloc AS BIGINT) AS alloc,
       CAST(COALESCE(s.n_sel, 0) AS BIGINT) AS n_selected,
       CAST(COALESCE(s.id_checksum, 0) AS BIGINT) AS id_checksum
FROM alloc a
LEFT JOIN (
  SELECT lang, COUNT(*) AS n_sel, SUM(doc_id) AS id_checksum FROM sel GROUP BY lang
) s ON s.lang = a.lang
"""


@register(
    "pipe_lang_rebalance",
    _REBALANCE_ORACLE,
    doc=f"language rebalancing: Hamilton quotas for {_REBALANCE_SLOTS} slots + deterministic hash sample",
)
def pipe_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-rebalancing step multilingual training runs before
    every mix: allocate a fixed document budget across languages with
    the largest-remainder rule (rel_largest_remainder's apportionment
    — the total comes out EXACT), then fill each language's quota by
    Knuth-hash rank — a deterministic 'random' sample, so the same
    corpus always selects the same documents (reproducible data
    recipes are how training runs stay comparable). Selection is one
    rank window per language against a broadcast 5-row quota table;
    the output carries the selected-id checksum so the oracle verifies
    WHICH documents were chosen, not just how many. The Hamilton
    arithmetic itself runs driver-side on the collected O(langs)
    counts — the fit-statistics pattern (only |langs| scalars leave
    the executors; the lazy relational form re-derived the counts
    aggregate per dependent relation and audited at 9 source scans,
    this is 2) — in exact Python integers, so the apportionment stays
    engine-identical."""
    d = load_table(spark, sf_dir, "documents")
    cnt = sorted(
        (r["lang"], int(r["n"]))
        for r in d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    nn = sum(n for _, n in cnt)
    quota = [
        (lang, n, _REBALANCE_SLOTS * n // nn, (_REBALANCE_SLOTS * n) % nn)
        for lang, n in cnt
    ]
    leftover = _REBALANCE_SLOTS - sum(base for _, _, base, _ in quota)
    by_rem = sorted(quota, key=lambda q: (-q[3], q[0]))
    bump = {lang for lang, _, _, _ in by_rem[:leftover]}
    alloc = spark.createDataFrame(
        [
            (lang, n, base + (1 if lang in bump else 0))
            for lang, n, base, _ in quota
        ],
        "lang string, n long, alloc long",
    )
    rw = Window.partitionBy("lang").orderBy(
        ((F.col("doc_id") * 2654435761) % 4294967296).asc(), F.col("doc_id").asc()
    )
    ranked = d.select("lang", "doc_id").withColumn("rk", F.row_number().over(rw))
    sel = ranked.join(F.broadcast(alloc.select("lang", "alloc")), "lang").filter(
        F.col("rk") <= F.col("alloc")
    )
    sel_agg = sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sel"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )
    return alloc.join(F.broadcast(sel_agg), "lang", "left").select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("alloc").cast("long"),
        F.coalesce("n_sel", F.lit(0)).cast("long").alias("n_selected"),
        F.coalesce("id_checksum", F.lit(0)).cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# end-to-end entity resolution: block -> match -> cluster -> canonicalize
# ---------------------------------------------------------------------------

_ER_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS ka, b.p_partkey AS kb
  FROM part a JOIN part b
    ON a.p_partkey < b.p_partkey
   AND levenshtein(a.p_name, b.p_name) <= 2
),
edges AS (
  SELECT ka AS u, kb AS v FROM pairs UNION SELECT kb, ka FROM pairs
),
reach(src, dst) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
),
cc AS (SELECT src AS id, MIN(dst) AS component FROM reach GROUP BY src),
members AS (
  SELECT c.component, p.p_partkey, p.p_name
  FROM cc c JOIN part p ON p.p_partkey = c.id
)
SELECT CAST(component AS BIGINT) AS entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_distinct_names,
       MIN(CASE WHEN p_partkey = component THEN p_name END) AS canonical_name
FROM members GROUP BY component HAVING COUNT(*) >= 2
"""


@register(
    "pipe_entity_resolution",
    _ER_ORACLE,
    doc="entity resolution end to end: blocked match -> connected components -> canonical record",
)
def pipe_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full record-linkage pipeline in one query, each stage the
    scale-safe operator the registry already proves separately:
    length-bucket BLOCKED Levenshtein matching over distinct names
    (text_fuzzy_match — never all-pairs), transitive closure of the
    match pairs via connected_components (A~B, B~C merge even though
    A~C was never compared), and canonicalization (entity id = min
    member key, canonical name = that record's name). The oracle runs
    the textbook all-pairs + recursive-CTE formulation — quadratic,
    affordable only oracle-side — so the blocked pipeline is verified
    to lose NOTHING vs brute force: same entities, same membership
    counts, same canonical records. This is the composition a
    customer-dedup / catalog-merge deployment runs nightly; every
    stage's 100 TB story lives with its operator.

    Clustering runs at the NAME level, not the key level: keys
    sharing a name are trivially one entity, so expanding hot names
    into C(k,2) key pairs before the component step would feed the
    CC millions of redundant edges (measured: 5.5M key pairs vs a
    few thousand name pairs at sf0.1, 14.5 s -> ~2 s). Each distinct
    name is represented by its minimum key, name-level components
    therefore label each cluster with the minimum key overall (min
    over per-name mins), and membership expands back through the
    name -> keys join only AFTER the graph work — the standard
    value-level ER optimization, and exactly equivalent."""
    from web_attack_detection_spark.operators.dedup import connected_components
    from web_attack_detection_spark.plans.text import fuzzy_name_pairs

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    nm = p.groupBy("p_name").agg(F.min("p_partkey").cast("long").alias("nid"))
    matched = fuzzy_name_pairs(spark, sf_dir)
    na = nm.select(F.col("p_name").alias("name_a"), F.col("nid").alias("id_a"))
    nb = nm.select(F.col("p_name").alias("name_b"), F.col("nid").alias("id_b"))
    name_pairs = (
        matched.join(F.broadcast(na), "name_a")
        .join(F.broadcast(nb), "name_b")
        .select("id_a", "id_b")
    )
    cc = connected_components(name_pairs)
    # names untouched by any fuzzy edge are singleton name-clusters
    comp = (
        nm.join(cc, nm.nid == cc.id, "left")
        .select(
            "p_name",
            F.coalesce(F.col("component"), F.col("nid")).cast("long").alias(
                "component"
            ),
        )
    )
    members = p.join(F.broadcast(comp), "p_name")
    return (
        members.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.count_distinct("p_name").cast("long").alias("n_distinct_names"),
            F.min(
                F.when(F.col("p_partkey") == F.col("component"), F.col("p_name"))
            ).alias("canonical_name"),
        )
        .filter(F.col("n_records") >= 2)
        .select(
            F.col("component").cast("long").alias("entity_id"),
            "n_records",
            "n_distinct_names",
            "canonical_name",
        )
    )


# ---------------------------------------------------------------------------
# shard planning for corpus export (running-byte-count bin assignment)
# ---------------------------------------------------------------------------

_SHARD_BYTES = 65536

_SHARD_PLAN_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
runsum AS (
  SELECT doc_id, source, n_bytes,
         CAST(SUM(n_bytes) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_bytes
  FROM sized
),
assigned AS (
  SELECT doc_id, source, n_bytes,
         CAST((cum_bytes - 1) // {_SHARD_BYTES} AS BIGINT) AS shard
  FROM runsum
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM assigned GROUP BY shard
"""


@register(
    "pipe_shard_plan",
    _SHARD_PLAN_ORACLE,
    doc=f"export shard planner: running-byte bin assignment at {_SHARD_BYTES}-byte targets",
)
def pipe_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write planner a 100 TB corpus export runs before touching
    a single output file: assign documents (in stable doc_id order)
    to fixed-size shards by running byte count — shard k holds the
    docs whose cumulative bytes land in (k*S, (k+1)*S]. Contiguous
    assignment preserves locality (range reads stay sequential), the
    plan is pure integer arithmetic, and the per-shard manifest
    (doc ranges, byte totals, source spread) is exactly what the
    downstream writer consumes as its work list. The prefix sum is
    the DISTRIBUTED two-phase form, not a single-partition global
    window: bucket subtotals (one map-side-combinable groupBy over
    |docs|/1000 cells) get an exclusive running sum on the tiny
    bucket relation, broadcast back as each bucket's byte offset;
    the per-row window then partitions BY BUCKET — every shuffle
    moves either O(buckets) rows or sorts only within a bucket. The
    exact shape a 100 TB export planner runs."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        "source",
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        (F.col("doc_id") / 1000).cast("long").alias("bucket"),
    )
    # phase 1: per-bucket subtotals; exclusive prefix over the tiny
    # bucket relation = each bucket's starting byte offset
    bw = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sized.groupBy("bucket")
        .agg(F.sum("n_bytes").alias("bkt_bytes"))
        .select(
            "bucket",
            F.coalesce(F.sum("bkt_bytes").over(bw), F.lit(0))
            .cast("long")
            .alias("offset"),
        )
    )
    # phase 2: intra-bucket running sum (window partitioned by bucket —
    # no global sort) + the broadcast offset
    iw = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    assigned = (
        sized.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "source",
            "n_bytes",
            F.floor(
                (F.col("offset") + F.sum("n_bytes").over(iw) - 1) / _SHARD_BYTES
            )
            .cast("long")
            .alias("shard"),
        )
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("shard_bytes"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# corpus version diff by content hash (added / removed / changed)
# ---------------------------------------------------------------------------

# Version 2 is a deterministic mutation of the corpus: docs with
# doc_id % 17 = 0 dropped, docs with doc_id % 13 = 0 get ' v2'
# appended, the rest unchanged — the fixture stand-in for "last
# week's snapshot vs this week's". The diff itself is the operator:
# full-outer join on doc_id, change detection by md5 content hash.
_CORPUS_DIFF_ORACLE = """
WITH v1 AS (SELECT doc_id, source, md5(text) AS h FROM documents),
v2 AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id % 17 <> 0
),
diff AS (
  SELECT COALESCE(v1.source, v2.source) AS source,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n
FROM diff GROUP BY source, status
"""


@register(
    "pipe_corpus_diff",
    _CORPUS_DIFF_ORACLE,
    doc="corpus snapshot diff: added/removed/changed by content hash, per source",
)
def pipe_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changed between corpus snapshots? The diff every dataset
    release note is built from: full-outer join of two versions on
    the document key, change detection by content HASH (never by
    comparing text bytes through the join — the hash is computed
    map-side once per side, so the join carries 32-byte digests
    instead of documents). Version 2 here is a deterministic fixture
    mutation (drops + edits); in production both sides are real
    snapshots and nothing else changes. Counts roll up per source and
    status — the added/removed/changed table that decides whether a
    retrain is warranted. Scale: one equi-join keyed on doc_id with
    both sides pre-hashed; rel_snapshot_diff is the keyed-table
    analogue of the same shape."""
    d = load_table(spark, sf_dir, "documents")
    v1 = d.select("doc_id", "source", F.md5("text").alias("h"))
    v2 = d.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    diff = v1.join(
        v2.select(
            F.col("doc_id").alias("doc_id2"),
            F.col("source").alias("source2"),
            F.col("h").alias("h2"),
        ),
        v1.doc_id == F.col("doc_id2"),
        "full_outer",
    ).select(
        F.coalesce("source", "source2").alias("source"),
        F.when(F.col("doc_id").isNull(), "added")
        .when(F.col("doc_id2").isNull(), "removed")
        .when(F.col("h") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return diff.groupBy("source", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# curriculum ordering by trained-model margin (round 10)
# ---------------------------------------------------------------------------


def _curriculum_oracle() -> str:
    """The full ml_mlp_exact training replay extended with
    model-difficulty curriculum staging: score ALL events with the
    trained w_{ROUNDS} weights (the shared _mlpx_pre_sql/_mlpx_h_sql/
    _mlpx_m_sql builders — one textual source with the trainer), take
    EXACT quartiles of the 1e6-quantized |margin| (the
    rel_percentile_disc rule: real data values at ceil(p*n) of the
    sorted column), and bucket every example into 4 curriculum stages
    — stage 0 = most confident (trained first), stage 3 = nearest the
    decision boundary (trained last)."""
    from web_attack_detection_spark.plans.mlq import (
        _MLPX_H,
        _MLPX_ROUNDS,
        _mlpx_cte_parts,
        _mlpx_h_sql,
        _mlpx_m_sql,
        _mlpx_pre_sql,
    )

    H, R = _MLPX_H, _MLPX_ROUNDS
    pres = ",\n           ".join(
        f"{_mlpx_pre_sql(j, f'w_{R}')} AS pre{j}" for j in range(1, H + 1)
    )
    hs = ", ".join(_mlpx_h_sql(j) for j in range(1, H + 1))
    msql = _mlpx_m_sql(f"w_{R}")
    tail = f""", zall AS MATERIALIZED (
  SELECT CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END AS y,
         (CAST(CAST(ROUND(value * 10000) AS BIGINT) AS DOUBLE) - (SELECT m1 FROM mo)) / (SELECT sd1 FROM mo) AS z1,
         (CAST(CAST(user_id % 100 AS BIGINT) AS DOUBLE) - (SELECT m2 FROM mo)) / (SELECT sd2 FROM mo) AS z2,
         (CAST(CAST(event_id % 100 AS BIGINT) AS DOUBLE) - (SELECT m3 FROM mo)) / (SELECT sd3 FROM mo) AS z3
  FROM events
), scored AS MATERIALIZED (
  SELECT y,
         CAST(ROUND(m * 1000000.0) AS BIGINT) AS mq,
         abs(CAST(ROUND(m * 1000000.0) AS BIGINT)) AS a,
         CASE WHEN m >= 0.0 THEN 1 ELSE 0 END AS pred
  FROM (
    SELECT y, {msql} AS m
    FROM (SELECT y, {hs} FROM (
      SELECT y,
           {pres}
      FROM zall
    ))
  )
), qs AS (
  SELECT vals[CAST(ceil(0.25 * nn) AS INTEGER)] AS q1,
         vals[CAST(ceil(0.50 * nn) AS INTEGER)] AS q2,
         vals[CAST(ceil(0.75 * nn) AS INTEGER)] AS q3
  FROM (SELECT list_sort(list(a)) AS vals, COUNT(*) AS nn FROM scored)
)
SELECT CASE WHEN s.a > q.q3 THEN 0
            WHEN s.a > q.q2 THEN 1
            WHEN s.a > q.q1 THEN 2
            ELSE 3 END AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(s.a) AS BIGINT) AS a_min,
       CAST(MAX(s.a) AS BIGINT) AS a_max,
       CAST(SUM(s.pred) AS BIGINT) AS n_positive,
       CAST(SUM(CASE WHEN s.pred = s.y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM scored s, qs q
GROUP BY 1 ORDER BY 1"""
    return "".join(_mlpx_cte_parts("gd")) + tail


@register(
    "pipe_curriculum_order",
    _curriculum_oracle(),
    doc="curriculum staging by TRAINED-model margin: exact-GD MLP fit "
    "in-engine, all examples bucketed into 4 stages by exact quartiles "
    "of |margin| — training + scoring + staging all under one oracle",
)
def pipe_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difficulty-ordered curriculum for a training pipeline: fit the
    exact-GD MLP (plans/mlq MLPX via plans/exactx.fit_exact, weights
    bit-identical to the oracle's replay), score EVERY example with
    the trained margin (the model's one SQL-text forward fragment),
    and assign 4 curriculum stages by EXACT quartiles of |margin| —
    most-confident examples first (stage 0), decision-boundary
    examples last (stage 3), the classic easy-to-hard schedule, with
    the difficulty signal coming from the model itself rather than a
    static heuristic.  Per stage: population, |margin| range (1e6
    ints), predicted positives, and agreement with labels.

    Scale: training is ml_mlp_exact's loop; scoring is one stateless
    codegen projection; the quartile boundaries come from the
    DISTRIBUTED two-phase rank (operators/ranking.ranged_row_number —
    the biggest sort is one range bucket, never the whole column),
    then bucketing is a map-only CASE against 3 broadcast scalars.
    The DuckDB twin keeps the sorted-list exact form, proving the
    distributed boundary pass equal bit-for-bit."""
    from web_attack_detection_spark.operators.ranking import ranged_row_number
    from web_attack_detection_spark.plans.exactx import apply_layers, fit_exact
    from web_attack_detection_spark.plans.mlq import MLPX

    fit = fit_exact(spark, sf_dir, MLPX)
    layers, m = MLPX.forward(fit.w)
    scored = (
        apply_layers(fit.stdz.z(fit.stdz.base_all), layers)
        .selectExpr(
            "y",
            f"ABS(CAST(ROUND(({m}) * 1000000.0D) AS BIGINT)) AS a",
            f"CAST(({m}) >= 0.0D AS BIGINT) AS pred",
        )
        .localCheckpoint()
    )
    ranked = ranged_row_number(
        scored.select("a"), "a", [F.col("a").asc()], total_col="nn"
    )
    q = (
        ranked.filter(
            (F.col("rn") == F.ceil(0.25 * F.col("nn")))
            | (F.col("rn") == F.ceil(0.50 * F.col("nn")))
            | (F.col("rn") == F.ceil(0.75 * F.col("nn")))
        )
        .groupBy()
        .agg(
            F.min(F.when(F.col("rn") == F.ceil(0.25 * F.col("nn")), F.col("a"))).alias("q1"),
            F.min(F.when(F.col("rn") == F.ceil(0.50 * F.col("nn")), F.col("a"))).alias("q2"),
            F.min(F.when(F.col("rn") == F.ceil(0.75 * F.col("nn")), F.col("a"))).alias("q3"),
        )
    )
    staged = scored.crossJoin(F.broadcast(q)).select(
        F.when(F.col("a") > F.col("q3"), 0)
        .when(F.col("a") > F.col("q2"), 1)
        .when(F.col("a") > F.col("q1"), 2)
        .otherwise(3)
        .alias("stage"),
        "a",
        "pred",
        "y",
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("a").cast("long").alias("a_min"),
            F.max("a").cast("long").alias("a_max"),
            F.sum("pred").cast("long").alias("n_positive"),
            F.sum((F.col("pred") == F.col("y")).cast("long")).cast("long").alias(
                "n_correct"
            ),
        )
        .orderBy("stage")
    )
