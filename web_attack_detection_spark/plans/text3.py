"""Third text wave: the corpus-hygiene steps between dedup and
training — benchmark decontamination, n-gram LM quality scoring, and
sequence packing.

North-star extensions (BASELINE.json; the reference has no text
processing — SURVEY.md §2.7). These are the standard steps a
pre-training data pipeline runs AFTER near-dedup:

- **decontamination**: find training documents sharing word n-grams
  with an evaluation set, so benchmark text can be excluded from the
  training corpus (the n-gram-collision method used by GPT-3/PaLM/Llama
  dataset reports, published openly).
- **n-gram LM scoring**: an add-one-smoothed bigram language model fit
  on the corpus itself; per-document average log-probability is the
  classic CCNet-style quality signal (degenerate/boilerplate text
  scores far from the corpus bulk).
- **sequence packing**: concatenate documents in a deterministic order
  and cut into fixed-length training sequences; each document maps to
  a [first_seq, last_seq] span. Packing is per-source here — on a real
  cluster one global concatenation order would serialize the corpus
  through ONE window partition, so the operator partitions by a shard
  key and packs within shards (exactly what distributed tokenizers do).

All three are pure DataFrame ops — explode/join/groupBy/window, no
Python in the data path — and every aggregate is integer-exact or
integer-scaled per the registry determinism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_attack_detection_spark.io.sources import load_table, union_by_name
from web_attack_detection_spark.operators.dedup import shingles
from web_attack_detection_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Benchmark decontamination: 5-gram collisions between train and eval.
#
# Eval set = every 53rd document. The train side is the rest of the
# corpus PLUS planted leaks (eval texts re-inserted under shifted ids),
# so contamination is guaranteed present and the query must find it —
# the FIXTURES.md planted-mutation pattern.
# ---------------------------------------------------------------------------

_DECON_ORACLE = """
WITH train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 53 <> 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 53 = 0
),
eval AS (SELECT doc_id AS eval_id, text FROM documents WHERE doc_id % 53 = 0),
tr_tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM train),
ev_tok AS (SELECT eval_id, string_split_regex(text, '\\s+') AS t FROM eval),
tr_sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
  FROM tr_tok, UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS r(i)
),
ev_sh AS (
  SELECT DISTINCT eval_id, array_to_string(t[i:i+4], ' ') AS shingle
  FROM ev_tok, UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS r(i)
)
SELECT tr_sh.doc_id,
       CAST(COUNT(DISTINCT tr_sh.shingle) AS BIGINT) AS n_hit_shingles,
       CAST(COUNT(DISTINCT ev_sh.eval_id) AS BIGINT) AS n_eval_docs
FROM tr_sh JOIN ev_sh USING (shingle)
GROUP BY tr_sh.doc_id
"""


@register(
    "text_decontaminate",
    _DECON_ORACLE,
    doc="benchmark decontamination: 5-gram train/eval collision report",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contaminated training doc: how many distinct 5-gram shingles
    it shares with the eval set, and how many eval docs it hits.

    Scale shape: eval sets are tiny (thousands of benchmark documents)
    while the training corpus is the 100 TB side — so the eval shingle
    table is BROADCAST and the train side is a map-only scan + explode;
    no shuffle touches the corpus until the tiny post-join aggregate.
    The planted-leak union mirrors the oracle exactly.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 53 == 0)
    train = union_by_name(
        docs.filter(F.col("doc_id") % 53 != 0),
        ev.select((F.col("doc_id") + 200000).alias("doc_id"), "text"),
    )
    tr_sh = shingles(train, "text", "doc_id", n=5)
    ev_sh = (
        shingles(ev, "text", "doc_id", n=5)
        .withColumnRenamed("id", "eval_id")
    )
    return (
        tr_sh.join(F.broadcast(ev_sh), "shingle")
        .groupBy("id")
        .agg(
            F.count_distinct("shingle").alias("n_hit_shingles"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
        .withColumnRenamed("id", "doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram language-model quality scoring (add-one smoothing).
#
# p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V); per-doc score is the mean
# log-probability over the doc's bigrams. Per the determinism contract,
# each bigram's ln(p) is rounded to 1e-6 and summed as BIGINT so the
# result is independent of partition order and engine.
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
docs2 AS (SELECT * FROM toks WHERE len(t) >= 2),
big AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg
  FROM docs2, UNNEST(range(1, len(t))) AS r(i)
),
c12 AS (SELECT bg, COUNT(*) AS c12 FROM big GROUP BY bg),
c1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1 FROM big GROUP BY 1
),
v AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT UNNEST(t) AS tok FROM docs2)
),
scored AS (
  SELECT b.doc_id,
         CAST(ROUND(ln((c12.c12 + 1) / CAST(c1.c1 + v.v AS DOUBLE)) * 1000000)
              AS BIGINT) AS lp
  FROM big b
  JOIN c12 USING (bg)
  JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
  CROSS JOIN v
  WHERE b.doc_id <= 300
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(lp) / 1000000.0 / COUNT(*), 6) AS avg_logp
FROM scored GROUP BY doc_id
"""


@register(
    "text_bigram_lm",
    _BIGRAM_LM_ORACLE,
    doc="bigram LM fit + per-doc mean log-prob quality score",
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit an add-one bigram LM on the corpus, score docs ≤ 300.

    The 'model' is two aggregate tables (bigram counts, first-token
    counts) plus one scalar (vocab size) — i.e. fitting is two shuffles
    over exploded bigrams, linear in corpus tokens. Scoring joins the
    doc's bigrams against the count tables; at 100 TB the count tables
    are Zipf-shaped but BOUNDED by vocab², and in practice small enough
    to broadcast after a frequency floor — here they stay shuffle joins
    keyed by bigram, which AQE converts to broadcast when small. The
    vocab scalar stays plan-side via a broadcast cross join (no
    driver collect, no extra job).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("t")).filter(
        F.size("t") >= 2
    )
    # one vectorized pass: bigram i = t[i] ' ' t[i+1]
    bg = F.zip_with(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    big = toks.select("doc_id", F.explode(bg).alias("bg"))
    c12 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    c1 = (
        big.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = toks.select(F.explode("t").alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    scored = (
        big.filter(F.col("doc_id") <= 300)
        .join(c12, "bg")
        .join(c1, F.substring_index("bg", " ", 1) == c1.w1)
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"))
                * 1000000
            )
            .cast("long")
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp") / F.lit(1000000.0) / F.count(F.lit(1)), 6).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# Sequence packing: concat docs per source in doc_id order, cut into
# 512-token training sequences. Pure integer window arithmetic — exact.
# ---------------------------------------------------------------------------

_SEQ_LEN = 512

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tok
  FROM toks
)
SELECT source, doc_id, n_tok,
       cum_tok - n_tok AS start_off,
       (cum_tok - n_tok) // {_SEQ_LEN} AS first_seq,
       (cum_tok - 1) // {_SEQ_LEN} AS last_seq,
       (cum_tok - 1) // {_SEQ_LEN} - (cum_tok - n_tok) // {_SEQ_LEN} + 1 AS n_seqs
FROM cum
"""


@register(
    "text_pack_sequences",
    _PACK_ORACLE,
    doc="sequence packing: per-source concat → 512-token sequence spans",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map each document to its span of packed 512-token training
    sequences (concat-and-chunk packing, per source shard).

    The window partitions by ``source`` — a GLOBAL packing order would
    funnel 100 TB through one window partition, so real pipelines pack
    within shards; the per-shard cumulative sum is one shuffle on the
    shard key and a linear in-partition scan. All arithmetic is BIGINT
    (token counts, offsets, integer division): bit-exact on any engine,
    any partition order.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tok", F.sum("n_tok").over(w))
    start = F.col("cum_tok") - F.col("n_tok")
    first_seq = F.expr(f"(cum_tok - n_tok) div {_SEQ_LEN}")
    last_seq = F.expr(f"(cum_tok - 1) div {_SEQ_LEN}")
    return cum.select(
        "source",
        "doc_id",
        "n_tok",
        start.alias("start_off"),
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + F.lit(1)).alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# BPE merge round: the core primitive of byte-pair-encoding tokenizer
# training, as one distributed aggregation.
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
WITH words AS (
  SELECT UNNEST(string_split_regex(text, '\\s+')) AS w FROM documents
),
wc AS (
  SELECT w, COUNT(*) AS cnt FROM words WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substr(w, i, 2) AS pair, cnt
  FROM wc, UNNEST(range(1, length(w))) AS r(i)
),
agg AS (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq FROM pairs GROUP BY pair
)
SELECT pair, freq FROM agg ORDER BY freq DESC, pair ASC LIMIT 10
"""


@register(
    "text_bpe_first_merge",
    _BPE_ORACLE,
    doc="BPE tokenizer training: one merge round (top adjacent char pairs)",
)
def text_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first merge round of BPE training: count adjacent character
    pairs across the corpus weighted by word frequency, rank merge
    candidates (count desc, pair asc — the deterministic tie-break BPE
    needs for reproducible vocab).

    Distributed shape: word-count first (one shuffle, collapses the
    corpus to its vocabulary — at 100 TB the vocab is millions of rows,
    not billions), THEN explode each distinct word into its pairs.
    Exploding before counting would emit one row per corpus character;
    aggregating first makes the pair stage proportional to |vocab|.
    Full BPE training iterates this round driver-side with the merge
    applied between rounds — each round stays this same aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", r"\s+")).alias("w")).filter(
        F.length("w") >= 2
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# WARC ingestion: documents -> WARC archives -> Python data source ->
# engine aggregation, oracle-checked against the original table.
# ---------------------------------------------------------------------------

_WARC_ORACLE = """
SELECT 'text/plain' AS content_type,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(SUM(octet_length(ENCODE(text))) AS BIGINT) AS total_bytes,
       CAST(SUM(doc_id * octet_length(ENCODE(text))) AS BIGINT) AS checksum
FROM documents WHERE doc_id <= 200
"""


def _warc_input(spark: SparkSession, sf_dir: str) -> str:
    """Documents with doc_id <= 200 archived into 4 plain WARC files
    (doc_id % 4 picks the shard): a content-keyed directory fixture.
    The one collect() here MANUFACTURES the archive — the measured
    path is the read-back."""
    from web_attack_detection_spark.io.fixtures import fixture_dir
    from web_attack_detection_spark.io.warc import write_warc

    def build(d: str) -> None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") <= 200)
            .select("doc_id", "text")
            .collect()
        )
        for shard in range(4):
            write_warc(
                f"{d}/part-{shard}.warc",
                [
                    {
                        "url": f"https://corpus.example/doc/{r['doc_id']}",
                        "payload": r["text"].encode(),
                    }
                    for r in docs
                    if r["doc_id"] % 4 == shard
                ],
            )

    return fixture_dir("warc", sf_dir, ["documents"], build)


@register(
    "warc_ingest_stats",
    _WARC_ORACLE,
    doc="WARC crawl-archive ingestion (Python data source) == source-table truth",
    setup=_warc_input,
)
def warc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl-archive ingestion check: the documents table is
    archived into 4 plain WARC files (``_warc_input``, the declared
    setup), read back through the ``warc`` Python data source
    (io/warc.py — one input partition per archive), and reduced to
    byte-level totals that must equal what DuckDB computes from the
    ORIGINAL table — proving the writer, the parser, and the Arrow hop
    lose nothing.

    The doc_id round-trips through the WARC-Target-URI, which is how
    real crawl pipelines key provenance. The measured path is the
    read-back: file-parallel Python source -> Arrow -> JVM aggregate,
    no driver data."""
    from web_attack_detection_spark.io.warc import WarcDataSource

    d = _warc_input(spark, sf_dir)
    spark.dataSource.register(WarcDataSource)
    warc = spark.read.format("warc").load(d)
    doc_id = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    return warc.groupBy("content_type").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("length").alias("total_bytes"),
        F.sum(doc_id * F.col("length")).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# repeated passages: intra-corpus exact-substring repetition (the
# signal behind exact-substring training-data dedup).
# ---------------------------------------------------------------------------

_REPEAT_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+9], ' ') AS win
  FROM toks, UNNEST(range(1, greatest(len(t) - 9, 1) + 1)) AS r(i)
),
rep AS (
  SELECT win,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM sh GROUP BY win
  HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_repeated_windows,
       CAST(COALESCE(SUM(n_occurrences), 0) AS BIGINT) AS total_occurrences,
       CAST(COALESCE(MAX(n_docs), 0) AS BIGINT) AS max_docs_sharing
FROM rep
"""


@register(
    "text_repeated_passages",
    _REPEAT_ORACLE,
    doc="exact-substring repetition: 10-token windows shared across docs",
)
def text_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The detection half of exact-substring dedup (the published
    suffix-array method reduces to: find token windows of length k
    occurring in more than one document, then cut them). One explode →
    one groupBy on the window string — linear in corpus tokens, the
    same shuffle shape as shingle dedup; at 100 TB you hash the window
    (xxhash64) instead of shuffling its text, identical plan.

    Non-distinct windows per doc (unlike the dedup shingles): a
    passage repeated WITHIN a doc also counts, as the dedup method
    requires. Summary output (window count, occurrence mass, widest
    sharing) — the per-window list is the same relation pre-aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    n = 10
    acc = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(1)))
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat_ws(" ", x, y))
    win = F.when(F.size(toks) <= n - 1, F.array(F.array_join(toks, " "))).otherwise(
        F.slice(acc, 1, F.size(toks) - (n - 1))
    )
    sh = docs.select("doc_id", F.explode(win).alias("win"))
    rep = (
        sh.groupBy("win")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return rep.agg(
        F.count(F.lit(1)).alias("n_repeated_windows"),
        F.coalesce(F.sum("n_occurrences"), F.lit(0)).cast("long").alias("total_occurrences"),
        F.coalesce(F.max("n_docs"), F.lit(0)).cast("long").alias("max_docs_sharing"),
    )


# ---------------------------------------------------------------------------
# PMI collocations: top word-pair associations, integer-scaled ln.
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
docs2 AS (SELECT * FROM toks WHERE len(t) >= 2),
big AS (
  SELECT array_to_string(t[i:i+1], ' ') AS bg,
         split_part(array_to_string(t[i:i+1], ' '), ' ', 1) AS w1,
         split_part(array_to_string(t[i:i+1], ' '), ' ', 2) AS w2
  FROM docs2, UNNEST(range(1, len(t))) AS r(i)
),
n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM big),
c12 AS (SELECT bg, w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2, 3),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
c2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY w2),
pmi AS (
  SELECT bg, c12,
         CAST(ROUND(ln(c12 * n / (c1 * CAST(c2 AS DOUBLE))) * 1000000) AS BIGINT)
           AS pmi_micro
  FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n_tot
  WHERE c12 >= 5
)
SELECT bg, c12, pmi_micro FROM pmi
ORDER BY pmi_micro DESC, bg ASC LIMIT 20
"""


@register(
    "text_pmi_topk",
    _PMI_ORACLE,
    doc="PMI collocations: top-20 associated adjacent word pairs",
)
def text_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent word pairs —
    collocation mining, the corpus-analysis twin of the bigram LM
    (same three count aggregates; scoring ranks association instead of
    probability). ln is rounded to 1e-6 and carried as BIGINT so the
    ranking is engine-exact; c12 >= 5 is the standard sparse-count
    floor that keeps PMI from blowing up on hapax pairs. Two shuffles
    over exploded bigrams + two broadcast-able count joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", r"\s+").alias("t")).filter(F.size("t") >= 2)
    bg = F.zip_with(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    big = toks.select(F.explode(bg).alias("bg")).select(
        "bg",
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
    )
    n_tot = big.agg(F.count(F.lit(1)).alias("n"))
    c12 = big.groupBy("bg", "w1", "w2").agg(F.count(F.lit(1)).alias("c12")).filter(
        F.col("c12") >= 5
    )
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = big.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    pmi = (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .join(F.broadcast(n_tot))
        .select(
            "bg",
            "c12",
            F.round(
                F.log(
                    F.col("c12") * F.col("n") / (F.col("c1") * F.col("c2").cast("double"))
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return pmi.orderBy(F.col("pmi_micro").desc(), F.col("bg").asc()).limit(20)


# ---------------------------------------------------------------------------
# linear quality classifier: fastText-shaped scoring as exact SQL
# ---------------------------------------------------------------------------

_QCLF_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(text, '\\s+')) AS tok
  FROM documents WHERE doc_id <= 400
),
feats AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b
  FROM toks
),
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM((b * 2654435761) % 1001 - 500) AS BIGINT) AS score
  FROM feats GROUP BY doc_id
)
SELECT doc_id, n_tok, score, (score > 0) AS accept
FROM scored
"""


@register(
    "text_quality_classifier",
    _QCLF_ORACLE,
    doc="fastText-shaped linear quality classifier: hashed features, integer weights",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A linear bag-of-hashed-tokens classifier — the fastText/CCNet
    quality-filter SHAPE — run as pure column arithmetic: token →
    md5 bucket (the f9 hashing trick) → integer weight lookup computed
    from the bucket id (a stand-in for trained weights; real weights
    broadcast as a 256-row table with the identical plan) → per-doc
    integer score and accept decision. Inference is one explode + one
    groupBy, no model runtime, no floats anywhere — the 100 TB quality
    gate is literally a SQL query. Weights-as-expression keeps the
    oracle exact; the expression and a weight-table join produce the
    same plan shape either way."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 400)
    toks = docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("tok"))
    feats = toks.select(
        "doc_id",
        (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 256).alias("b"),
    )
    scored = feats.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum((F.col("b") * F.lit(2654435761)) % 1001 - 500).alias("score"),
    )
    return scored.select(
        "doc_id", "n_tok", "score", (F.col("score") > 0).alias("accept")
    )


# ---------------------------------------------------------------------------
# bloom-filter decontamination: O(1)-size broadcast, zero false negatives
# ---------------------------------------------------------------------------

# 3-gram integer hash = the winnowing scheme (plans/text4.py): token
# hash len*131 + 31*first-char + last-char, base-1000003 polynomial
# mod 2^31-1 — pinned integer arithmetic both engines compute
# identically. Bloom: m = 16384 bits as 512 x 32-bit words (bit index < 32 so the BIGINT shift never overflows in either engine), k = 3
# pinned affine hash rows (the ml_countmin_sketch family).
_BLOOM_M = 2147483647
_BLOOM_B = 1000003
_BLOOM_BITS = 16384
_BLOOM_ROWS = ((1103515245, 12345), (69069, 362437), (1664525, 1013904223))

_BLOOM_TRAIN_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id % 53 <> 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 53 = 0
"""

_BLOOM_GRAMS_SQL = """
  SELECT DISTINCT doc_id,
         ((th * 1000003 + LEAD(th, 1) OVER w) % 2147483647 * 1000003
           + LEAD(th, 2) OVER w) % 2147483647 AS g
  FROM (
    SELECT doc_id, i AS pos,
           (CAST(length(t[i]) AS BIGINT) * 131 + ascii(t[i]) * 31
            + ascii(substr(t[i], length(t[i]), 1))) AS th
    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM {src}),
         UNNEST(range(1, len(t) + 1)) AS r(i)
  )
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY LEAD(th, 2) OVER w IS NOT NULL
"""

_BLOOM_HASH_UNION = " UNION ALL ".join(
    f"SELECT doc_id, g, {j} AS j, (({a} * g + {b}) % {_BLOOM_M}) % {_BLOOM_BITS} AS h FROM {{src}}"
    for j, (a, b) in enumerate(_BLOOM_ROWS)
)

_BLOOM_DECON_ORACLE = f"""
WITH train AS ({_BLOOM_TRAIN_SQL}),
eval AS (SELECT doc_id, text FROM documents WHERE doc_id % 53 = 0),
tr_g AS ({_BLOOM_GRAMS_SQL.format(src="train")}),
ev_g AS (SELECT DISTINCT g FROM ({_BLOOM_GRAMS_SQL.format(src="eval")})),
ev_gd AS (SELECT 0 AS doc_id, g FROM ev_g),
bh AS ({_BLOOM_HASH_UNION.format(src="ev_gd")}),
bloom AS (
  SELECT h // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INTEGER)) AS mask
  FROM bh GROUP BY 1
),
pr AS ({_BLOOM_HASH_UNION.format(src="tr_g")}),
bloom_hit AS (
  SELECT pr.doc_id, pr.g
  FROM pr JOIN bloom ON bloom.word = pr.h // 32
  WHERE (bloom.mask >> CAST(pr.h % 32 AS INTEGER)) & 1 = 1
  GROUP BY pr.doc_id, pr.g
  HAVING COUNT(*) = 3
),
exact_hit AS (SELECT DISTINCT t.doc_id, t.g FROM tr_g t JOIN ev_g USING (g)),
doc_flags AS (
  SELECT t.doc_id,
         MAX(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS fb,
         MAX(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS fe
  FROM tr_g t
  LEFT JOIN bloom_hit b ON b.doc_id = t.doc_id AND b.g = t.g
  LEFT JOIN exact_hit e ON e.doc_id = t.doc_id AND e.g = t.g
  GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs,
       CAST(SUM(fb) AS BIGINT) AS n_flagged_bloom,
       CAST(SUM(fe) AS BIGINT) AS n_flagged_exact,
       CAST(SUM(CASE WHEN fb = 1 AND fe = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positive_docs,
       CAST(SUM(CASE WHEN fe = 1 AND fb = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negative_docs,
       g1.n_probe_grams, g2.n_bloom_hit_grams, g3.n_exact_hit_grams
FROM doc_flags,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_grams FROM tr_g) g1,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_hit_grams FROM bloom_hit) g2,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_hit_grams FROM exact_hit) g3
GROUP BY g1.n_probe_grams, g2.n_bloom_hit_grams, g3.n_exact_hit_grams
"""


def _grams3(df: DataFrame) -> DataFrame:
    """DISTINCT (doc_id, g) token-3-gram hashes — the winnowing hash
    scheme as a reusable relation (pinned integer arithmetic)."""
    toks = df.select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "t")
    ).select(
        "doc_id",
        "pos",
        (
            F.length("t").cast("long") * 131
            + F.ascii("t").cast("long") * 31
            + F.expr("ascii(substr(t, length(t), 1))").cast("long")
        ).alias("th"),
    )
    lw = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks.select(
            "doc_id",
            "th",
            F.lead("th", 1).over(lw).alias("th1"),
            F.lead("th", 2).over(lw).alias("th2"),
        )
        .filter(F.col("th2").isNotNull())
        .select(
            "doc_id",
            (
                ((F.col("th") * _BLOOM_B + F.col("th1")) % _BLOOM_M * _BLOOM_B
                 + F.col("th2")) % _BLOOM_M
            ).alias("g"),
        )
        .distinct()
    )


def _bloom_hashes(df: DataFrame) -> DataFrame:
    """Explode each gram into its k=3 pinned bloom bit positions."""
    hs = F.array(
        *[
            ((F.lit(a) * F.col("g") + F.lit(b)) % _BLOOM_M) % _BLOOM_BITS
            for a, b in _BLOOM_ROWS
        ]
    )
    return df.select("*", F.posexplode(hs).alias("j", "h"))


@register(
    "text_bloom_decontaminate",
    _BLOOM_DECON_ORACLE,
    doc="bloom-filter decontamination: 512-word broadcast filter, FN=0 invariant, exact-vs-bloom audit",
)
def text_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at the scale where broadcasting the EVAL SHINGLE
    SET itself stops being possible: fold the eval set's 3-gram hashes
    into a 16384-bit bloom filter — 512 rows of (word, 32-bit mask),
    broadcastable at ANY eval-set size — and probe every train gram
    map-side with k=3 pinned affine hashes (the ml_countmin_sketch
    hash family, integer arithmetic both engines compute identically).
    The result row audits the filter against the exact equi-join
    answer on the same split as text_decontaminate (planted leaks
    guaranteed present): flagged-doc counts both ways, the
    false-positive count the bloom trades for its O(1) size, and the
    false-NEGATIVE count, which the bloom guarantee pins to 0 — an
    invariant, not an observation, and both engines must agree on
    every number bit-for-bit. Scale shape: the eval side contracts to
    <= 512 rows before anything joins; the probe is one broadcast-join
    pass over train grams; nothing sf-proportional shuffles except the
    per-doc flag aggregation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = union_by_name(
        docs.filter(F.col("doc_id") % 53 != 0),
        docs.filter(F.col("doc_id") % 53 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        ),
    )
    ev = docs.filter(F.col("doc_id") % 53 == 0)

    tr_g = _grams3(train)
    ev_g = _grams3(ev).select("g").distinct()

    bloom = (
        _bloom_hashes(ev_g)
        .select(
            ((F.col("h") - F.pmod(F.col("h"), F.lit(32))) / 32)
            .cast("long")
            .alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 32 AS INT))").alias(
                "bitval"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("bitval").alias("mask"))
    )

    # ONE linear pipeline over the train grams: the exact flag rides a
    # broadcast join of the (tiny) eval gram set, the bloom flag rides
    # the 3-hash probe against the 512-row filter, and every output
    # number falls out of one per-doc and one global aggregate —
    # nothing re-derives the gram relation (the naive
    # branch-per-metric form audited at 16 scans; this is 4)
    marked = tr_g.join(
        F.broadcast(ev_g.withColumn("_ex", F.lit(1))), "g", "left"
    )
    probed = (
        _bloom_hashes(marked)
        .withColumn(
            "word",
            ((F.col("h") - F.pmod(F.col("h"), F.lit(32))) / 32).cast("long"),
        )
        .join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "bit_ok",
            F.when(
                F.expr(
                    "mask IS NOT NULL AND ((mask >> CAST(h % 32 AS INT)) & 1) = 1"
                ),
                1,
            ).otherwise(0),
        )
        .groupBy("doc_id", "g", "_ex")
        .agg(F.sum("bit_ok").alias("nb"))
    )
    per_gram = probed.select(
        "doc_id",
        F.coalesce(F.col("_ex"), F.lit(0)).alias("ex"),
        (F.col("nb") == 3).cast("int").alias("fb"),
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.max("fb").alias("fb"),
        F.max("ex").alias("fe"),
        F.count(F.lit(1)).alias("ng"),
        F.sum("fb").alias("sfb"),
        F.sum("ex").alias("sex"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_train_docs"),
        F.sum("fb").cast("long").alias("n_flagged_bloom"),
        F.sum("fe").cast("long").alias("n_flagged_exact"),
        F.sum(((F.col("fb") == 1) & (F.col("fe") == 0)).cast("int"))
        .cast("long")
        .alias("n_false_positive_docs"),
        F.sum(((F.col("fe") == 1) & (F.col("fb") == 0)).cast("int"))
        .cast("long")
        .alias("n_false_negative_docs"),
        F.sum("ng").cast("long").alias("n_probe_grams"),
        F.sum("sfb").cast("long").alias("n_bloom_hit_grams"),
        F.sum("sex").cast("long").alias("n_exact_hit_grams"),
    )
