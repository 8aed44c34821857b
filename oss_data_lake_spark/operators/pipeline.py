"""The composite LLM-training-data pipeline (north-star flagship): quality
filtering + near-duplicate removal over a document corpus, as one
oracle-checked operator.

Pipeline semantics (each stage mirrors its standalone operator):
1. quality gate — token count in [MIN_TOKENS, MAX_TOKENS] and stopword ratio
   ≤ MAX_STOP_RATIO (operators/text.py stats);
2. near-dup removal — among quality-passing docs, drop the LARGER doc_id of
   every shingle-Jaccard pair ≥ threshold (operators/dedup.py semantics:
   deterministic keep-smallest representative);
3. report per-source counts: total, quality-failed, near-dup-dropped,
   survivors.

At 100 TB this is the shape of a real corpus-cleaning job: the quality gate
is a narrow codegen'd scan (no shuffle), dedup runs MinHash-LSH + verify
(three bounded shuffles), and the final accounting is one aggregation. The
oracle-checked query uses the exhaustive pair truth so the driver can verify
it; the production variant swaps in ``minhash_dedup_pairs`` (identical
output on this corpus — pytest pins LSH == exhaustive).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from oss_data_lake_spark.operators.dedup import (
    DF_CAP_FRAC,
    JACCARD_THRESHOLD,
    shingle_jaccard_pairs,
)
from oss_data_lake_spark.operators.text import STOPWORDS
from oss_data_lake_spark.session import local_frame
from oss_data_lake_spark.sources.loaders import load_table

MIN_TOKENS = 20
MAX_TOKENS = 90
MAX_STOP_RATIO = 0.10


def _with_quality(docs: DataFrame) -> DataFrame:
    # one split per row shared by both rules (r14, the e44 factoring)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(f"size(filter(__toks, t -> t IN ({stop_list})))")
    return docs.select(
        "doc_id", "source", F.split("text", " ").alias("__toks")
    ).select(
        "doc_id",
        "source",
        F.size("__toks").alias("n_tokens"),
        (n_stop.cast("double") / F.size("__toks").cast("double")).alias("stop_ratio"),
    ).withColumn(
        "quality_ok",
        F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
        & (F.col("stop_ratio") <= MAX_STOP_RATIO),
    )


def clean_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of the full cleaning pipeline. Near-dup pairs
    use the PRODUCTION semantics — document-frequency-capped shingles,
    same as e11/e12 — so the report and the cleaning operator agree on
    which pairs exist (the oracle mirrors the cap)."""
    docs = load_table(spark, sf_dir, "documents")
    q = _with_quality(docs)
    passing = q.filter(F.col("quality_ok")).select("doc_id")
    pairs = shingle_jaccard_pairs(
        docs, JACCARD_THRESHOLD, df_cap_frac=DF_CAP_FRAC
    )
    # a near-dup "loser" is the larger id of a pair whose BOTH ends pass
    # quality (pairs involving quality-failed docs are moot — already gone)
    losers = (
        pairs.join(passing.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(passing.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    flagged = q.join(
        losers.withColumn("neardup", F.lit(True)), "doc_id", "left_outer"
    ).withColumn(
        "neardup_drop", F.col("quality_ok") & F.coalesce("neardup", F.lit(False))
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("quality_ok")).cast("long")).alias("n_quality_fail"),
            F.sum(F.col("neardup_drop").cast("long")).alias("n_neardup_drop"),
            F.sum(
                (F.col("quality_ok") & ~F.col("neardup_drop")).cast("long")
            ).alias("n_survivors"),
        )
        .orderBy("source")
    )


def clean_corpus(docs: DataFrame) -> DataFrame:
    """The actual cleaning operator: returns the surviving documents
    (production path — LSH-verified near-dup pairs, not the exhaustive
    oracle)."""
    from oss_data_lake_spark.operators.dedup import minhash_dedup_pairs

    q = _with_quality(docs)
    passing = q.filter(F.col("quality_ok")).select("doc_id")
    pairs = minhash_dedup_pairs(docs, JACCARD_THRESHOLD, df_cap_frac=DF_CAP_FRAC)
    losers = (
        pairs.join(passing.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(passing.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return docs.join(passing, "doc_id", "left_semi").join(
        losers, "doc_id", "left_anti"
    )


CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep chunking: split each document into fixed-size token
    windows with overlap (the context-window packing step of an LLM data
    pipeline). Pure Catalyst — sequence/transform/slice over the token
    array, exploded to one row per chunk; md5 fingerprints each chunk for
    downstream chunk-level dedup. Narrow op: no shuffle at all until the
    final ordering."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    chunks = F.expr(
        f"transform(sequence(0, greatest(cast(ceil((size(toks) - {CHUNK_TOKENS}) "
        f"/ {CHUNK_STRIDE}) as int), 0)), "
        f"i -> array_join(slice(toks, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}), ' '))"
    )
    return (
        toks.select(
            "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text")
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size(F.split("chunk_text", " ")).cast("long").alias("chunk_tokens"),
            F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


SAMPLE_MOD = 100
SAMPLE_KEEP = 20  # keep doc_id % 100 < 20 → deterministic 20% sample


def stratified_sample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (data mixing): keep a fixed keyed
    slice per source (id-modulo — reproducible across runs and engines,
    unlike rand()-based sampling). Reports per-source kept/total."""
    docs = load_table(spark, sf_dir, "documents")
    kept = (F.col("doc_id") % SAMPLE_MOD) < SAMPLE_KEEP
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_sampled"),
        )
        .withColumn(
            "sample_rate",
            F.col("n_sampled").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e73: chunk-level exact dedup accounting — after chunking (e71), how
    much of the corpus is duplicated at chunk granularity (the unit that
    actually enters training). Per source: chunks, distinct chunk
    fingerprints, and the duplicate ratio. At 100 TB this is one narrow
    scan + one aggregation on (source, md5) — the md5 shuffle key is
    uniformly distributed, so no skew."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("toks"))
    chunks = F.expr(
        f"transform(sequence(0, greatest(cast(ceil((size(toks) - {CHUNK_TOKENS}) "
        f"/ {CHUNK_STRIDE}) as int), 0)), "
        f"i -> array_join(slice(toks, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}), ' '))"
    )
    per_chunk = toks.select(
        "source", F.explode(chunks).alias("chunk_text")
    ).select("source", F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"))
    return (
        per_chunk.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chunk_md5").alias("n_distinct"),
        )
        .withColumn(
            "dup_ratio",
            (F.col("n_chunks") - F.col("n_distinct")).cast("double")
            / F.col("n_chunks").cast("double"),
        )
        .orderBy("source")
    )


# PII scrub patterns (ASCII-conservative; identical leftmost-first match
# semantics in Java regex and RE2, so Spark and DuckDB redact identically)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e74: PII redaction — scrub emails/phone numbers to placeholder tokens
    and account for what was removed, per source.

    The fixture corpus contains no PII, so the query first seeds
    deterministic synthetic PII (an email on ``doc_id % 7 == 0``, a phone
    on ``doc_id % 7 == 3``) and then runs the production scrub path:
    ``regexp_replace`` chains, all JVM-side. At 100 TB the scrub is a
    narrow codegen'd scan (regex per row, no shuffle); the accounting is
    one small per-source aggregation. In production the seeding stage is
    dropped and the scrub applies directly to the raw corpus."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    n_em = F.regexp_count(F.col("text"), F.lit(EMAIL_RE))
    n_ph = F.regexp_count(F.col("text"), F.lit(PHONE_RE))
    return (
        seeded.select(
            "source",
            n_em.alias("n_em"),
            n_ph.alias("n_ph"),
            (F.length("text") - F.length(redacted)).cast("long").alias("len_delta"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_em").cast("long")).alias("n_emails"),
            F.sum(F.col("n_ph").cast("long")).alias("n_phones"),
            F.sum(
                ((F.col("n_em") == 0) & (F.col("n_ph") == 0)).cast("long")
            ).alias("n_clean_docs"),
            F.sum("len_delta").alias("sum_len_delta"),
        )
        .orderBy("source")
    )


# Decontamination (e75): the eval/benchmark holdout is one fixture source;
# 8-token shingles are the standard decontamination grain — long enough
# that sharing even ONE is overwhelming evidence of copied text (short
# n-grams flag idiom; on this fixture 3-grams "contaminate" 400 docs,
# 8-grams exactly the 2 true near-dups of the holdout).
DECON_EVAL_SOURCE = "src0"
DECON_NGRAM = 8


def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e75: train/eval contamination scan — per training source, how many
    documents share at least one 8-token shingle with the eval holdout.

    The step every training pipeline runs before a data release: benchmark
    (eval) text must not leak into training data. Scale shape: the eval
    side is a benchmark suite — tiny relative to the corpus — so its
    distinct-shingle set BROADCASTS; the training corpus streams through
    one codegen'd explode + broadcast-hash semi-join + two aggregations.
    No shuffle touches the corpus until the per-doc hit counts (grouped on
    doc_id, already small)."""
    from oss_data_lake_spark.operators.dedup import shingle_array

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    sh = toks.select(
        "doc_id",
        "source",
        F.explode(shingle_array("toks", DECON_NGRAM)).alias("shingle"),
    )
    ev = (
        sh.filter(F.col("source") == DECON_EVAL_SOURCE)
        .select("shingle")
        .distinct()
    )
    hits = (
        sh.filter(F.col("source") != DECON_EVAL_SOURCE)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    per_doc_sources = (
        docs.filter(F.col("source") != DECON_EVAL_SOURCE)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per_hit = hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.max("n_shared").alias("max_shared"),
    )
    return (
        per_doc_sources.join(per_hit, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.coalesce("max_shared", F.lit(0)).alias("max_shared"),
        )
        .orderBy("source")
    )


CTX_TOKENS = 256  # training-example block length


def sequence_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e76: concat-and-chunk SEQUENCE PACKING — the GPT-pretraining
    dataloader shape: per SOURCE shard, documents in doc_id order form
    one token stream cut into ``CTX_TOKENS``-token blocks; a document
    occupies the blocks its [start, start+n) token interval covers.
    Per-shard packing is the 100-TB design point: the running-total
    window partitions by source, so ordering is SHARD-LOCAL — one
    bounded shuffle, never a global sort; shards pack independently on
    their executors exactly as a dataloader consumes them.

    SCALE CONTRACT (pinned in test_ext_operators.py): ``source`` must
    be a dataloader SHARD whose size is bounded — shard count scales
    with corpus size, so per-task sort stays flat. A caller feeding
    DOMAIN-grained sources (cardinality fixed as data grows) inherits
    the straggler e78 was restructured to avoid; use e78's two-level
    md5-prefix prefix sum in that regime. The contract is the
    difference: packing order here is the stream's own (doc_id), which
    has no hash prefix to range-bucket on, so the exact two-level
    decomposition does not apply.

    Reports per source: docs, tokens, blocks (integer ceil), documents
    that CROSS a block boundary (the attention-mask-contamination
    metric packing-aware trainers care about), and tail waste (unused
    slots in the final block)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        toks.withColumn(
            "start", F.coalesce(F.sum("n_tok").over(win), F.lit(0))
        )
        .withColumn(
            "crosses",
            (
                F.floor((F.col("start") + F.col("n_tok") - 1) / CTX_TOKENS)
                > F.floor(F.col("start") / CTX_TOKENS)
            ).cast("long"),
        )
    )
    return (
        placed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("crosses").cast("long").alias("boundary_docs"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr(
                f"CAST((total_tokens + {CTX_TOKENS - 1}) DIV {CTX_TOKENS} "
                f"AS BIGINT)"
            ).alias("n_blocks"),
            "boundary_docs",
            F.expr(
                f"CAST((total_tokens + {CTX_TOKENS - 1}) DIV {CTX_TOKENS} "
                f"* {CTX_TOKENS} - total_tokens AS BIGINT)"
            ).alias("tail_waste"),
        )
        .orderBy("source")
    )


# --- e77: fastText-style hashed-n-gram quality classifier -------------
#
# The CCNet recipe (the fastText quality filter every large-scale web
# corpus uses): a LINEAR model over a bag of HASHED token n-grams,
# trained to separate a curated reference domain from the rest, then
# scoring every document. Here the fit is the one-pass closed form —
# per-bucket class-count votes (positives rebalanced by the class
# ratio) — so the "training" is ONE aggregation, the fitted model is a
# tiny (≤ N_BUCKETS rows) weight table broadcast to the scorer, and the
# scoring pass is a narrow hash + broadcast-join + sum: no per-row
# Python anywhere, no transcendentals (integer votes, not log-odds), so
# Spark and DuckDB agree bit-for-bit. At 100 TB: train = one shuffle on
# a 2^K-key bucket column, score = scan + broadcast join + one
# per-(doc, source) aggregation.
N_BUCKETS = 32
POS_SOURCE = "src0"   # the curated reference domain (CCNet's wikipedia)
POS_SCALE = 19        # class rebalance: 19 negative domains vs 1 positive


def _md5_bucket(col):
    """First 32 bits of md5 → bucket id: the cross-engine feature hash
    (DuckDB: CAST(concat('0x', substr(md5(w),1,8)) AS BIGINT))."""
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10)
        .cast("long") % N_BUCKETS
    )


def quality_classifier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e77: train-then-score in one statement; per-source accounting of
    the classifier verdicts (docs, tokens, positive-classified docs,
    integer score sum, exact mean score per token)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("bucket", _md5_bucket(F.col("w")))
    weights = tok.groupBy("bucket").agg(
        (
            F.sum(
                F.when(F.col("source") == POS_SOURCE, F.lit(POS_SCALE))
                .otherwise(F.lit(0))
            )
            - F.sum(F.when(F.col("source") != POS_SOURCE, 1).otherwise(0))
        ).cast("long").alias("wt")
    )
    scored = (
        tok.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("wt").cast("long").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum((F.col("score") > 0).cast("long")).alias("n_positive"),
            F.sum("score").cast("long").alias("sum_score"),
        )
        .withColumn(
            "score_per_token",
            F.col("sum_score").cast("double")
            / F.col("n_tokens").cast("double"),
        )
        .orderBy("source")
    )


# --- e78: token-budget domain mixing (DoReMi shape) --------------------
#
# DoReMi / data-mixing: each DOMAIN gets a target TOKEN budget (domain
# weights × a global token target), and documents survive
# deterministically until their domain's budget fills. Survivorship
# order is md5(doc_id) — a reproducible pseudo-random permutation, so
# the "sample" is unbiased but every engine and every run picks the
# SAME documents (rand() would break replay and the oracle). A doc is
# kept iff the tokens BEFORE it in its domain's order are under budget,
# so each domain overshoots by at most one document — and the report
# accounts for that exactly.
#
# 100-TB design (round-10 restructure): the running total is a
# TWO-LEVEL prefix sum, never a per-domain window. Unlike e76's shards,
# domain count does NOT grow with data (DoReMi mixes ~22 domains; a
# web-crawl domain is most of a 100-TB corpus), so
# Window.partitionBy("source") would sort a whole domain in ONE task.
# Because the order key's head is md5 hex, its leading MIX_BUCKET_HEX
# characters are simultaneously a uniform hash bucket AND a contiguous
# RANGE of the (rnd, doc_id) sort order — which makes an exact
# decomposition possible:
#   1. per-(source, bucket) LOCAL running totals — the big window now
#      sorts |domain| / 16^MIX_BUCKET_HEX rows per task,
#   2. per-(source, bucket) token sums — a (domains × 4096)
#      metadata-scale table,
#   3. cumulative bucket offsets via a window over THAT tiny table,
#   4. broadcast the offsets back: before = offset + local_before.
# Identical values to the single window (the bucket is a prefix of the
# order key), and no partition ever holds a whole domain. Raise
# MIX_BUCKET_HEX by one to shrink per-task sorts another 16×.
MIX_TOTAL_FRACTION_NUM = 1   # global target = total_tokens * 1/2
MIX_TOTAL_FRACTION_DEN = 2
MIX_WEIGHT_MOD = 7           # domain weight = 1 + md5(source) % 7
MIX_BUCKET_HEX = 3           # md5-prefix length → 16^3 = 4096 buckets


def token_budget_mixing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e78: per-domain mixing accounting — docs, tokens, the domain's
    weight and token budget, kept docs/tokens under deterministic
    survivorship, and the (bounded) overshoot."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    bucketed = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("rnd"),
    ).withColumn("bkt", F.substring("rnd", 1, MIX_BUCKET_HEX))
    # Round-11 (verdict #3): the corpus is scanned exactly TWICE — once
    # for the per-(source, bucket) aggregate every piece of metadata
    # (totals, grand, budgets, offsets) derives from, once for the
    # placement pass. The old DAG re-derived totals/grand/offsets/budgets
    # each from the raw token projection (5 FileScans).
    bkt_agg = bucketed.groupBy("source", "bkt").agg(
        F.count(F.lit(1)).cast("long").alias("bkt_docs"),
        F.sum("n_tok").cast("long").alias("bkt_tok"),
    )
    src_win = Window.partitionBy("source")
    off_win = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    all_win = Window.partitionBy()  # bkt_agg is metadata-scale: domains×4096
    per_src = (
        bkt_agg
        .withColumn(
            "weight", (_md5_bucket(F.col("source")) % MIX_WEIGHT_MOD + 1)
        )
        .withColumn(
            "n_docs", F.sum("bkt_docs").over(src_win).cast("long")
        )
        .withColumn(
            "total_tokens", F.sum("bkt_tok").over(src_win).cast("long")
        )
        .withColumn(
            "offset",
            F.coalesce(F.sum("bkt_tok").over(off_win), F.lit(0))
            .cast("long"),
        )
    )
    # grand totals: sum each source's contribution ONCE (bucket rank 1
    # carries it; other buckets contribute 0) — still window algebra over
    # the tiny table, no extra corpus scan, no extra aggregation pass
    first_bkt = F.row_number().over(
        Window.partitionBy("source").orderBy("bkt")
    ) == 1
    meta = (
        per_src
        .withColumn(
            "grand_tokens",
            F.sum(
                F.when(first_bkt, F.col("total_tokens")).otherwise(F.lit(0))
            ).over(all_win),
        )
        .withColumn(
            "weight_sum",
            F.sum(
                F.when(first_bkt, F.col("weight")).otherwise(F.lit(0))
            ).over(all_win),
        )
        .withColumn(
            "budget_tokens",
            F.floor(
                F.col("weight")
                * F.col("grand_tokens")
                * MIX_TOTAL_FRACTION_NUM
                / (F.col("weight_sum") * MIX_TOTAL_FRACTION_DEN)
            ).cast("long"),
        )
        .select(
            "source", "bkt", "offset", "weight", "n_docs",
            "total_tokens", "budget_tokens",
        )
    )
    local_win = (
        Window.partitionBy("source", "bkt")
        .orderBy("rnd", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        bucketed.join(F.broadcast(meta), ["source", "bkt"])
        .withColumn(
            "before",
            F.col("offset")
            + F.coalesce(F.sum("n_tok").over(local_win), F.lit(0)),
        )
        .withColumn("keep", F.col("before") < F.col("budget_tokens"))
    )
    # the per-source report columns ride the broadcast meta through the
    # placement pass (constant within each group), so the final report is
    # ONE aggregation — no re-join against a budgets lineage that would
    # re-scan the corpus
    return (
        placed.groupBy("source")
        .agg(
            F.min("n_docs").alias("n_docs"),
            F.min("total_tokens").alias("total_tokens"),
            F.min("weight").cast("long").alias("weight"),
            F.min("budget_tokens").alias("budget_tokens"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .withColumn(
            "overshoot_tokens",
            F.greatest(
                F.col("kept_tokens") - F.col("budget_tokens"), F.lit(0)
            ).cast("long"),
        )
        .orderBy("source")
    )


# --- e79: Gopher REPETITION rules ---------------------------------------
#
# The second half of the Gopher quality suite (e44 covers the
# length/stopword gates): repetition filters — a document dominated by
# one repeated n-gram, or with few distinct tokens, is boilerplate/spam.
# Two Gopher-shape signals, both as EXACT integer counts so the
# per-source ratios are integer divisions (bit-identical cross-engine,
# no per-doc float averaging):
#   top-2-gram fraction  — occurrences of the doc's most frequent
#                          2-gram over all its 2-grams (flag > 20%),
#   duplicate-token frac — 1 - distinct/total tokens (flag > 60%).
# At 100 TB: tokens explode narrowly, the 2-gram count is one
# (doc, gram) hash aggregate + one per-doc max — two bounded shuffles
# keyed by doc_id (uniform), nothing global.
REP_2GRAM_PCT = 20   # flag when max 2-gram count * 100 > pct * total
REP_DUPTOK_PCT = 60  # flag when (total-distinct) * 100 > pct * total


def gopher_repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e79: per-source repetition accounting — docs, flags under both
    rules, and the exact corpus-level numerators/denominators (the
    ratios derive as integer divisions)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(toks[i-1], ' ', toks[i]))"
            )
        ).alias("gram"),
    )
    per_doc_gram = (
        grams.groupBy("doc_id", "source", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "source")
        .agg(
            F.max("c").cast("long").alias("max_2gram"),
            F.sum("c").cast("long").alias("n_2grams"),
        )
    )
    per_doc_tok = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    per_doc = per_doc_gram.join(per_doc_tok, "doc_id")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (
                    F.col("max_2gram") * 100
                    > F.col("n_2grams") * REP_2GRAM_PCT
                ).cast("long")
            ).alias("n_flag_2gram"),
            F.sum(
                (
                    (F.col("n_tokens") - F.col("n_distinct")) * 100
                    > F.col("n_tokens") * REP_DUPTOK_PCT
                ).cast("long")
            ).alias("n_flag_duptok"),
            F.sum("max_2gram").cast("long").alias("sum_max_2gram"),
            F.sum("n_2grams").cast("long").alias("sum_2grams"),
            F.sum("n_distinct").cast("long").alias("sum_distinct"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .withColumn(
            "top2gram_frac",
            F.col("sum_max_2gram").cast("double")
            / F.col("sum_2grams").cast("double"),
        )
        .orderBy("source")
    )


# --- e81: n-gram NOVELTY scoring ----------------------------------------
#
# The memorization/novelty lens of Lee et al. (ACL 2022) turned into a
# per-document score: a document's n-gram is NOVEL iff no earlier
# document (doc_id order — ingestion order in a real pipeline) contains
# it. Mostly-non-novel documents are near-copies of earlier corpus
# content that survived pairwise dedup (different enough to miss the
# Jaccard bar, derivative enough to add little). Exact set semantics
# over distinct per-doc n-grams, so the ratios are integer divisions.
#
# 100 TB: two n-gram-keyed hash shuffles — first-occurrence is ONE
# groupBy(gram).min(doc_id) (map-side combinable), novelty is the join
# back on gram. Same growth class as e75's overlap scan; no all-pairs,
# no window.
NOVELTY_NGRAM = 8   # same n as decontamination — phrase-level identity


def ngram_novelty_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e81: per-source novelty accounting — docs, distinct n-grams,
    FIRST-OCCURRENCE (novel) n-grams, and documents that are entirely
    novel / entirely derivative. avg novelty = novel_grams/total_grams,
    derived from the exact integers."""
    from oss_data_lake_spark.operators.dedup import shingle_array

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        "source",
        F.explode(shingle_array("toks", NOVELTY_NGRAM)).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_novel").cast("long").alias("novel_grams"),
            F.sum((F.col("n_novel") == F.col("n_grams")).cast("long"))
            .cast("long")
            .alias("fully_novel_docs"),
            F.sum((F.col("n_novel") == 0).cast("long"))
            .cast("long")
            .alias("derivative_docs"),
        )
        .orderBy("source")
    )


# --- e82: deterministic train/val/test split ----------------------------
#
# The release-time split every pipeline runs: md5(doc_id) % 100 buckets
# → train (< 98) / val (98) / test (99). Hash-deterministic, so the
# assignment is reproducible across engines, runs, and re-shards — and
# STABLE under corpus growth (a document's split never changes when
# data is added, unlike rand() or modulo-on-row-number). One narrow
# projection + one aggregation; no shuffle beyond the groupBy.
SPLIT_MOD = 100
SPLIT_VAL_BUCKET = 98
SPLIT_TEST_BUCKET = 99


def corpus_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e92 (round 13): the END-TO-END corpus pipeline in the documented
    operator order — exact dedup (e10's keep-min-id rule) → MinHash
    near-dup drop (e11's LSH-candidates + exact-verify pairs, drop the
    higher id of every pair) → SemDeDup on the SURVIVORS' embeddings
    (e80's greedy keep-first sweep via ``_semdedup_members``) → split
    accounting over the final corpus (e82's md5 rule). This pins the
    CROSS-operator contract the SCALE.md residual adjudication relies
    on: lexical dedup runs UPSTREAM of SemDeDup, so mass duplication
    never reaches the embedding sweep.

    Output is a stage ledger — one row per pipeline stage plus one per
    final (source, split) cell — with integer doc and whitespace-token
    counts (bit-exact cross-engine). The DuckDB oracle replays the
    whole chain as one CTE composition built from the SAME oracle
    fragments the member queries use (``_jaccard_pairs_sql(docs=...)``,
    ``_semdedup_members_sql(emb=...)``).

    100-TB shape: each stage's survivor set is a narrow id column
    (localCheckpoint bounds the multi-stage lineage, the CC cadence);
    the stages themselves keep their own scale contracts — exact dedup
    is one hash aggregate, MinHash verifies candidates only, SemDeDup
    sweeps cluster blocks. Nothing here adds a corpus × corpus join."""
    from oss_data_lake_spark.operators.dedup import (
        doc_shingle_sets,
        doc_shingle_sets_capped,
        minhash_dedup_pairs,
        normalize_text,
    )
    from oss_data_lake_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        _semdedup_members,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # stage 1 — exact: keep the min doc_id per normalized text
    keep1 = (
        docs.groupBy(normalize_text().alias("__k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # lazy checkpoint (r14): the first consumer — the stage-2 shingle
    # cache materialization — runs the semi-join once and persists d1;
    # an eager checkpoint here was a whole extra job for the same work
    d1 = docs.join(keep1, "doc_id", "left_semi").localCheckpoint(eager=False)
    # stage 2 — MinHash near-dups among survivors: drop every doc that
    # is the HIGHER id of a verified pair (pairs are emitted a < b)
    pairs = minhash_dedup_pairs(
        d1, JACCARD_THRESHOLD, df_cap_frac=DF_CAP_FRAC
    )
    # no .distinct() on the drop set (r15): LEFT ANTI dedups its right
    # side inherently, so the extra exchange bought nothing — identical
    # survivors, one less shuffle in the d2 materialization
    drop2 = pairs.select(F.col("doc_b").alias("doc_id"))
    d2 = d1.join(drop2, "doc_id", "left_anti").localCheckpoint()
    # d2 is materialized, so stage 2's cached shingle tables have served
    # every reader they will ever have: their plans hang off THIS call's
    # unique d1 checkpoint, so the CacheManager entries can never be
    # reused by a later query — without this unpersist every e92 run
    # leaked two cached tables for the session's lifetime (r14: the
    # bench's median-of-3 accumulated 6 stale entries per round, visibly
    # degrading the in-session runs that followed)
    # cache=False (r14 ADVICE): build the SAME analyzed plan without
    # re-invoking .cache(), so the unpersist hits the CacheManager entry
    # without transiently re-registering it
    doc_shingle_sets_capped(d1, DF_CAP_FRAC, cache=False).unpersist()
    doc_shingle_sets(d1, cache=False).unpersist()
    # stage 3 — SemDeDup over the survivors' embeddings (vec_id is the
    # fixture's doc_id; the semi-join prunes the sweep's input)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    emb_f = emb.join(
        d2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    members = _semdedup_members(spark, sf_dir, emb_f)
    drop3 = (
        members.filter(F.col("max_sim_lower") >= SEMDEDUP_THRESHOLD)
        .select(F.col("vec_id").alias("doc_id"))
    )
    # lazy: the final ledger job is d3's first (and only) reader — the
    # SemDeDup sweep rides that job once and is persisted for the second
    # ledger branch (split accounting) within the same query
    d3 = d2.join(drop3, "doc_id", "left_anti").localCheckpoint(eager=False)

    # r15: the ledger branches are TAGGED projections unioned into ONE
    # aggregate instead of five per-branch groupBys glued by union — the
    # stage keys are disjoint across branches (distinct literals + the
    # 'split:'-prefixed family), so grouping the union is row-identical
    # while collapsing five exchanges into one.
    def ledger(df: DataFrame, stage) -> DataFrame:
        return df.select(
            (stage if isinstance(stage, Column) else F.lit(stage))
            .alias("stage"),
            F.size(F.split("text", " ")).cast("long").alias("__t"),
        )

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16, 10,
        ).cast("long")
        % SPLIT_MOD
    )
    split_stage = F.concat(
        F.lit("split:"), F.col("source"), F.lit(":"),
        F.when(bucket == SPLIT_TEST_BUCKET, F.lit("test"))
        .when(bucket == SPLIT_VAL_BUCKET, F.lit("val"))
        .otherwise(F.lit("train")),
    )
    return (
        ledger(docs, "1_corpus")
        .unionByName(ledger(d1, "2_exact"))
        .unionByName(ledger(d2, "3_minhash"))
        .unionByName(ledger(d3, "4_semdedup"))
        .unionByName(ledger(d3, split_stage))
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__t").cast("long").alias("n_tokens"),
        )
        .orderBy("stage")
    )


def split_assignment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e82: per-(source, split) accounting — docs and exact token sums
    under the deterministic md5 split."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16, 10,
        ).cast("long")
        % SPLIT_MOD
    )
    return (
        docs.select(
            "source",
            F.when(bucket == SPLIT_TEST_BUCKET, F.lit("test"))
            .when(bucket == SPLIT_VAL_BUCKET, F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


# --- e83: DSIR-shape importance resampling ------------------------------
#
# Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169) — the data-SELECTION complement to e77's quality
# classifier: estimate target (curated domain) and raw feature
# distributions over HASHED n-gram buckets, weight every document by
# the log-likelihood ratio of its features, then resample a fixed
# budget via Gumbel-top-k. Determinism contract (so DuckDB replays it
# bit-for-bit): every log-ratio is a 9-dp FIXED-POINT BIGINT
# (round(x·1e9)) — per-doc weights are INTEGER sums, so aggregation
# order can never drift the values — and the Gumbel noise is derived
# from md5(doc_id) (replayable, unbiased), also as a 1e9-scaled bigint.
# At 100 TB: the fitted model is the 32-row bucket table (broadcast),
# per-doc weights are one narrow hash-aggregate, and the fixed-budget
# selection is a distributed TakeOrdered (per-partition top-K, driver
# merges K rows) — never a global sort.
DSIR_SELECT_K = 125     # the fixed selection budget (paper: fixed tokens)
_DSIR_U_MOD = 1_000_000_000


def dsir_resampling_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e83: per-source DSIR accounting — corpus docs/tokens/total
    log-weight, selected docs/tokens/log-weight under the fixed
    Gumbel-top-k budget, and the selection rate."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("bucket", _md5_bucket(F.col("w")))
    counts = tok.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("source") == POS_SOURCE, 1).otherwise(0)
        ).cast("long").alias("n_t"),
        F.sum(
            F.when(F.col("source") != POS_SOURCE, 1).otherwise(0)
        ).cast("long").alias("n_r"),
    )
    # add-one-smoothed per-bucket log ratio ln(p_target/p_raw), with the
    # normalizers folded in, as a 9-dp fixed-point bigint; the window
    # runs over the 32-row model table (metadata scale)
    from pyspark.sql.window import Window

    allw = Window.partitionBy()
    lw = (
        counts
        .withColumn("t_tot", F.sum(F.col("n_t") + 1).over(allw))
        .withColumn("r_tot", F.sum(F.col("n_r") + 1).over(allw))
        .withColumn(
            "lw",
            F.round(
                (
                    F.log((F.col("n_t") + 1).cast("double"))
                    - F.log(F.col("t_tot").cast("double"))
                    - F.log((F.col("n_r") + 1).cast("double"))
                    + F.log(F.col("r_tot").cast("double"))
                )
                * 1e9
            ).cast("long"),
        )
        .select("bucket", "lw")
    )
    # the fitted model is 32 rows: collect it ONCE (the e22/e26
    # bounded fitted-model precedent) so the two downstream passes
    # (selection, totals) don't each re-derive it — keeps the corpus
    # at exactly 2 FileScans (model fit + the per-doc pass's two
    # consumers share this literal table)
    lw = local_frame(
        spark,
        [(r["bucket"], r["lw"]) for r in lw.collect()],
        "bucket long, lw long",
    )
    per_doc = (
        tok.join(F.broadcast(lw), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("lw").cast("long").alias("lw_sum"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    # Gumbel-top-k with replayable noise: u from md5(doc_id), the
    # gumbel -ln(-ln(u)) scaled to the same 1e9 fixed point, so the
    # selection key is a plain bigint sum
    u9 = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16, 10,
        ).cast("long")
        % _DSIR_U_MOD
    )
    keyed = per_doc.withColumn(
        "skey",
        F.col("lw_sum")
        + F.round(
            -F.log(
                -F.log((u9.cast("double") + 0.5) / float(_DSIR_U_MOD))
            )
            * 1e9
        ).cast("long"),
    )
    sel_agg = (
        keyed.orderBy(F.desc("skey"), "doc_id").limit(DSIR_SELECT_K)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("n_tok").cast("long").alias("selected_tokens"),
            F.sum("lw_sum").cast("long").alias("selected_logweight_1e9"),
        )
    )
    tot = keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("lw_sum").cast("long").alias("sum_logweight_1e9"),
    )
    return (
        tot.join(F.broadcast(sel_agg), "source", "left")
        .select(
            "source", "n_docs", "n_tokens", "sum_logweight_1e9",
            F.coalesce("n_selected", F.lit(0)).cast("long")
            .alias("n_selected"),
            F.coalesce("selected_tokens", F.lit(0)).cast("long")
            .alias("selected_tokens"),
            F.coalesce("selected_logweight_1e9", F.lit(0)).cast("long")
            .alias("selected_logweight_1e9"),
            (
                F.coalesce("n_selected", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("selection_rate"),
        )
        .orderBy("source")
    )


QUERIES = {
    "e70_clean_corpus_report": clean_corpus_report,
    "e71_chunk_documents": chunk_documents,
    "e72_stratified_sample_report": stratified_sample_report,
    "e73_chunk_dedup_stats": chunk_dedup_stats,
    "e74_pii_redaction": pii_redaction_report,
    "e75_decontamination": decontamination_report,
    "e76_sequence_packing": sequence_packing_report,
    "e77_quality_classifier": quality_classifier_report,
    "e78_token_budget_mixing": token_budget_mixing_report,
    "e79_gopher_repetition": gopher_repetition_report,
    "e81_ngram_novelty": ngram_novelty_report,
    "e82_split_assignment": split_assignment_report,
    "e83_dsir_resampling": dsir_resampling_report,
    "e92_corpus_pipeline": corpus_pipeline_report,
}


def _e92_oracle() -> str:
    """The pipeline chain as ONE CTE composition, built from the member
    queries' own oracle fragments (nested-WITH subqueries scope their
    internal CTE names locally): exact keep-min-id → capped-Jaccard
    pair drop (the e11 contract: LSH+verify ≡ thresholded exhaustive
    pairs) → SemDeDup member sweep over the survivor embeddings → md5
    split accounting."""
    from oss_data_lake_spark.operators.dedup import _jaccard_pairs_sql
    from oss_data_lake_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        _semdedup_members_sql,
    )

    jac = _jaccard_pairs_sql(DF_CAP_FRAC, docs="d1")
    mem = _semdedup_members_sql("emb_f")
    count_cols = (
        "CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) "
        "AS BIGINT) AS n_tokens"
    )
    return rf"""
        WITH nk AS (
          SELECT doc_id,
                 regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g') AS k
          FROM documents
        ),
        keep1 AS (SELECT MIN(doc_id) AS doc_id FROM nk GROUP BY k),
        d1 AS MATERIALIZED (
          SELECT d.doc_id, d.source, d.text
          FROM documents d JOIN keep1 USING (doc_id)
        ),
        pairs AS MATERIALIZED (SELECT * FROM ({jac})),
        d2 AS MATERIALIZED (
          SELECT * FROM d1
          WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
        ),
        emb_f AS MATERIALIZED (
          SELECT e.vec_id, e.embedding
          FROM embeddings e JOIN d2 ON e.vec_id = d2.doc_id
        ),
        mem AS MATERIALIZED (
          SELECT * FROM (WITH {mem} SELECT * FROM members)
        ),
        d3 AS MATERIALIZED (
          SELECT * FROM d2
          WHERE doc_id NOT IN (SELECT vec_id FROM mem
                               WHERE max_sim_lower >= {SEMDEDUP_THRESHOLD})
        )
        SELECT '1_corpus' AS stage, {count_cols} FROM documents
        UNION ALL SELECT '2_exact', {count_cols} FROM d1
        UNION ALL SELECT '3_minhash', {count_cols} FROM d2
        UNION ALL SELECT '4_semdedup', {count_cols} FROM d3
        UNION ALL
        SELECT 'split:' || source || ':' ||
               CASE CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {SPLIT_MOD}
                    WHEN {SPLIT_TEST_BUCKET} THEN 'test'
                    WHEN {SPLIT_VAL_BUCKET} THEN 'val'
                    ELSE 'train' END AS stage,
               {count_cols}
        FROM d3 GROUP BY 1
        ORDER BY stage
    """

_STOP_LIST = ", ".join(repr(s) for s in STOPWORDS)

# e75 oracle scaffolding: the 8-token shingle chain (positions t0..t7)
_DECON_JOINS = " ".join(
    f"JOIN w t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i}"
    for i in range(1, DECON_NGRAM)
)
_DECON_CONCAT = " || ' ' || ".join(f"t{i}.w" for i in range(DECON_NGRAM))

ORACLES = {
    # DISTINCT per-doc 8-gram shingles, first-occurrence by min doc_id —
    # the identical set semantics as shingle_array + groupBy(gram).min
    "e81_ngram_novelty": f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(t[i:i + {NOVELTY_NGRAM - 1}], ' ')
                       AS gram
            FROM toks,
                 unnest(generate_series(1, len(t) - {NOVELTY_NGRAM - 1}))
                     AS u(i)
        ), first AS (
            SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
        ), per_doc AS (
            SELECT g.doc_id, g.source,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN f.first_doc = g.doc_id
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
            FROM grams g JOIN first f USING (gram)
            GROUP BY g.doc_id, g.source
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_grams) AS BIGINT) AS total_grams,
               CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
               CAST(SUM(CASE WHEN n_novel = n_grams THEN 1 ELSE 0 END)
                    AS BIGINT) AS fully_novel_docs,
               CAST(SUM(CASE WHEN n_novel = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS derivative_docs
        FROM per_doc GROUP BY source ORDER BY source
    """,
    "e92_corpus_pipeline": _e92_oracle(),
    "e82_split_assignment": f"""
        SELECT source,
               CASE CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {SPLIT_MOD}
                    WHEN {SPLIT_TEST_BUCKET} THEN 'test'
                    WHEN {SPLIT_VAL_BUCKET} THEN 'val'
                    ELSE 'train' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                    AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source, split ORDER BY source, split
    """,
    "e79_gopher_repetition": f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, source,
                   t[i] || ' ' || t[i + 1] AS gram
            FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        ), pdg AS (
            SELECT doc_id, source,
                   CAST(MAX(c) AS BIGINT) AS max_2gram,
                   CAST(SUM(c) AS BIGINT) AS n_2grams
            FROM (SELECT doc_id, source, gram, COUNT(*) AS c
                  FROM grams GROUP BY doc_id, source, gram)
            GROUP BY doc_id, source
        ), pdt AS (
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
            FROM toks
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN max_2gram * 100
                                  > n_2grams * {REP_2GRAM_PCT}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_2gram,
               CAST(SUM(CASE WHEN (n_tokens - n_distinct) * 100
                                  > n_tokens * {REP_DUPTOK_PCT}
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_flag_duptok,
               CAST(SUM(max_2gram) AS BIGINT) AS sum_max_2gram,
               CAST(SUM(n_2grams) AS BIGINT) AS sum_2grams,
               CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(SUM(max_2gram) AS DOUBLE) / CAST(SUM(n_2grams) AS DOUBLE)
                   AS top2gram_frac
        FROM pdg JOIN pdt USING (doc_id)
        GROUP BY source ORDER BY source
    """,
    # e83: the IDENTICAL fixed-point arithmetic — 9-dp bigint log
    # ratios, integer per-doc sums, md5-derived Gumbel keys, the same
    # ORDER BY skey DESC, doc_id LIMIT K selection — re-derived from
    # DuckDB's own ln/md5/round
    "e83_dsir_resampling": f"""
        WITH tok AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ), b AS (
            SELECT doc_id, source,
                   CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)
                       % {N_BUCKETS} AS bucket
            FROM tok
        ), counts AS (
            SELECT bucket,
                   SUM(CASE WHEN source = '{POS_SOURCE}'
                            THEN 1 ELSE 0 END) AS n_t,
                   SUM(CASE WHEN source <> '{POS_SOURCE}'
                            THEN 1 ELSE 0 END) AS n_r
            FROM b GROUP BY bucket
        ), lw AS (
            SELECT bucket,
                   CAST(round((ln(n_t + 1) - ln(SUM(n_t + 1) OVER ())
                             - ln(n_r + 1) + ln(SUM(n_r + 1) OVER ()))
                             * 1e9) AS BIGINT) AS lw
            FROM counts
        ), per_doc AS (
            SELECT b.doc_id, b.source,
                   CAST(SUM(lw.lw) AS BIGINT) AS lw_sum,
                   CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM b JOIN lw USING (bucket)
            GROUP BY b.doc_id, b.source
        ), keyed AS (
            SELECT *,
                   lw_sum + CAST(round(-ln(-ln(
                       ((CAST(concat('0x',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % {_DSIR_U_MOD}) + 0.5)
                       / {_DSIR_U_MOD})) * 1e9) AS BIGINT) AS skey
            FROM per_doc
        ), sel_agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_selected,
                   CAST(SUM(n_tok) AS BIGINT) AS selected_tokens,
                   CAST(SUM(lw_sum) AS BIGINT) AS selected_logweight_1e9
            FROM (SELECT * FROM keyed
                  ORDER BY skey DESC, doc_id LIMIT {DSIR_SELECT_K})
            GROUP BY source
        ), tot AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                   CAST(SUM(lw_sum) AS BIGINT) AS sum_logweight_1e9
            FROM keyed GROUP BY source
        )
        SELECT t.source, t.n_docs, t.n_tokens, t.sum_logweight_1e9,
               CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
               CAST(COALESCE(s.selected_tokens, 0) AS BIGINT)
                   AS selected_tokens,
               CAST(COALESCE(s.selected_logweight_1e9, 0) AS BIGINT)
                   AS selected_logweight_1e9,
               CAST(COALESCE(s.n_selected, 0) AS DOUBLE)
                   / CAST(t.n_docs AS DOUBLE) AS selection_rate
        FROM tot t LEFT JOIN sel_agg s USING (source)
        ORDER BY t.source
    """,
    "e77_quality_classifier": f"""
        WITH tok AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ), b AS (
            SELECT doc_id, source,
                   CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)
                       % {N_BUCKETS} AS bucket
            FROM tok
        ), wt AS (
            SELECT bucket,
                   SUM(CASE WHEN source = '{POS_SOURCE}'
                            THEN {POS_SCALE} ELSE 0 END)
                 - SUM(CASE WHEN source <> '{POS_SOURCE}'
                            THEN 1 ELSE 0 END) AS wt
            FROM b GROUP BY bucket
        ), scored AS (
            SELECT b.doc_id, b.source,
                   CAST(SUM(wt.wt) AS BIGINT) AS score,
                   CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM b JOIN wt USING (bucket)
            GROUP BY b.doc_id, b.source
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_positive,
               CAST(SUM(score) AS BIGINT) AS sum_score,
               CAST(SUM(score) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE)
                   AS score_per_token
        FROM scored GROUP BY source ORDER BY source
    """,
    "e78_token_budget_mixing": f"""
        WITH toks AS (
            SELECT source, doc_id,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS n_tok,
                   md5(CAST(doc_id AS VARCHAR)) AS rnd,
                   CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT)
                       % {N_BUCKETS} % {MIX_WEIGHT_MOD} + 1 AS weight
            FROM documents
        ), totals AS (
            SELECT source, weight,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens
            FROM toks GROUP BY source, weight
        ), grand AS (
            SELECT SUM(total_tokens) AS grand_tokens,
                   SUM(weight) AS weight_sum
            FROM totals
        ), budgets AS (
            SELECT t.*,
                   CAST(floor(t.weight * g.grand_tokens
                              * {MIX_TOTAL_FRACTION_NUM}
                              / (g.weight_sum * {MIX_TOTAL_FRACTION_DEN}))
                        AS BIGINT) AS budget_tokens
            FROM totals t CROSS JOIN grand g
        ), placed AS (
            SELECT source, doc_id, n_tok,
                   COALESCE(SUM(n_tok) OVER (
                       PARTITION BY source ORDER BY rnd, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS before
            FROM toks
        ), kept AS (
            SELECT p.source,
                   CAST(SUM(CASE WHEN p.before < b.budget_tokens
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN p.before < b.budget_tokens
                                 THEN p.n_tok ELSE 0 END) AS BIGINT)
                       AS kept_tokens
            FROM placed p JOIN budgets b USING (source)
            GROUP BY p.source
        )
        SELECT b.source, b.n_docs, b.total_tokens,
               CAST(b.weight AS BIGINT) AS weight, b.budget_tokens,
               k.n_kept, k.kept_tokens,
               CAST(greatest(k.kept_tokens - b.budget_tokens, 0) AS BIGINT)
                   AS overshoot_tokens
        FROM budgets b JOIN kept k USING (source)
        ORDER BY b.source
    """,
    "e76_sequence_packing": f"""
        WITH toks AS (
            SELECT source, doc_id,
                   length(text) - length(replace(text, ' ', '')) + 1
                       AS n_tok
            FROM documents
        ), placed AS (
            SELECT source, doc_id, n_tok,
                   COALESCE(SUM(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start
            FROM toks
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST((sum(n_tok) + {CTX_TOKENS - 1}) // {CTX_TOKENS}
                   AS BIGINT) AS n_blocks,
               CAST(sum(CASE WHEN (start + n_tok - 1) // {CTX_TOKENS}
                             > start // {CTX_TOKENS}
                        THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs,
               CAST((sum(n_tok) + {CTX_TOKENS - 1}) // {CTX_TOKENS}
                   * {CTX_TOKENS} - sum(n_tok) AS BIGINT) AS tail_waste
        FROM placed
        GROUP BY source
        ORDER BY source
    """,
    "e75_decontamination": f"""
        WITH w AS (SELECT doc_id,
                          generate_subscripts(string_split(text, ' '), 1) AS pos,
                          unnest(string_split(text, ' ')) AS w
                   FROM documents),
        sh AS (SELECT DISTINCT t0.doc_id, {_DECON_CONCAT} AS shingle
               FROM w t0 {_DECON_JOINS}),
        ev AS (SELECT DISTINCT sh.shingle
               FROM sh JOIN documents d USING (doc_id)
               WHERE d.source = '{DECON_EVAL_SOURCE}'),
        hits AS (SELECT sh.doc_id, d.source, COUNT(*) AS n_shared
                 FROM sh
                 JOIN documents d USING (doc_id)
                 JOIN ev ON sh.shingle = ev.shingle
                 WHERE d.source <> '{DECON_EVAL_SOURCE}'
                 GROUP BY sh.doc_id, d.source),
        per_src AS (SELECT source, COUNT(*) AS n_docs FROM documents
                    WHERE source <> '{DECON_EVAL_SOURCE}' GROUP BY source),
        per_hit AS (SELECT source, COUNT(*) AS n_contaminated,
                           MAX(n_shared) AS max_shared
                    FROM hits GROUP BY source)
        SELECT p.source, p.n_docs,
               COALESCE(h.n_contaminated, 0) AS n_contaminated,
               COALESCE(h.max_shared, 0) AS max_shared
        FROM per_src p LEFT JOIN per_hit h USING (source)
        ORDER BY p.source
    """,
    "e74_pii_redaction": f"""
        WITH seeded AS (
          SELECT source,
                 CASE WHEN doc_id % 7 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com now'
                      WHEN doc_id % 7 = 3
                        THEN text || ' call 555-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             || ' today'
                      ELSE text END AS text
          FROM documents
        ),
        red AS (
          SELECT source,
                 len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_em,
                 len(regexp_extract_all(text, '{PHONE_RE}')) AS n_ph,
                 length(text)
                   - length(regexp_replace(regexp_replace(text, '{EMAIL_RE}',
                                                          '<EMAIL>', 'g'),
                                           '{PHONE_RE}', '<PHONE>', 'g'))
                   AS len_delta
          FROM seeded
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_em) AS BIGINT) AS n_emails,
               CAST(SUM(n_ph) AS BIGINT) AS n_phones,
               CAST(SUM(CASE WHEN n_em = 0 AND n_ph = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clean_docs,
               CAST(SUM(len_delta) AS BIGINT) AS sum_len_delta
        FROM red GROUP BY source ORDER BY source
    """,
    "e73_chunk_dedup_stats": f"""
        WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                   FROM documents),
        n AS (SELECT doc_id, source, toks,
                     greatest(CAST(ceil((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0)
                                   AS INT), 0) AS maxi
              FROM t),
        c AS (SELECT doc_id, source, toks,
                     unnest(generate_series(0, maxi)) AS chunk_id
              FROM n),
        x AS (SELECT source,
                     md5(array_to_string(
                         toks[chunk_id * {CHUNK_STRIDE} + 1 :
                              chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                         ' ')) AS chunk_md5
              FROM c)
        SELECT source, COUNT(*) AS n_chunks,
               COUNT(DISTINCT chunk_md5) AS n_distinct,
               CAST(COUNT(*) - COUNT(DISTINCT chunk_md5) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
        FROM x GROUP BY source ORDER BY source
    """,
    "e71_chunk_documents": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        n AS (SELECT doc_id, toks,
                     greatest(CAST(ceil((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0)
                                   AS INT), 0) AS maxi
              FROM t),
        c AS (SELECT doc_id, toks,
                     unnest(generate_series(0, maxi)) AS chunk_id
              FROM n),
        x AS (SELECT doc_id, chunk_id,
                     array_to_string(
                         toks[chunk_id * {CHUNK_STRIDE} + 1 :
                              chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                         ' ') AS chunk_text
              FROM c)
        SELECT doc_id, chunk_id,
               len(string_split(chunk_text, ' ')) AS chunk_tokens,
               md5(chunk_text) AS chunk_md5
        FROM x ORDER BY doc_id, chunk_id
    """,
    "e72_stratified_sample_report": f"""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN doc_id % {SAMPLE_MOD} < {SAMPLE_KEEP}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               CAST(SUM(CASE WHEN doc_id % {SAMPLE_MOD} < {SAMPLE_KEEP}
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS sample_rate
        FROM documents GROUP BY source ORDER BY source
    """,
    "e70_clean_corpus_report": f"""
        WITH q AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                                        t -> t IN ({_STOP_LIST}))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
        ),
        qok AS (
            SELECT doc_id, source,
                   (n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                    AND stop_ratio <= {MAX_STOP_RATIO}) AS quality_ok
            FROM q
        ),
        w AS (SELECT doc_id,
                     generate_subscripts(string_split(text, ' '), 1) AS pos,
                     unnest(string_split(text, ' ')) AS w
              FROM documents),
        sh0 AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
               FROM w a
               JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
               JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        sh AS (SELECT s.doc_id, s.shingle
               FROM sh0 s
               JOIN (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle) st
                 ON s.shingle = st.shingle
               CROSS JOIN (SELECT COUNT(*) AS n_docs FROM documents) tot
               WHERE st.df <= CAST(ceil({DF_CAP_FRAC} * tot.n_docs) AS BIGINT)),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        neardup AS (
            SELECT doc_a, doc_b FROM pairs
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE CAST(ni AS DOUBLE) / (sa.sz + sb.sz - ni) >= {JACCARD_THRESHOLD}
        ),
        losers AS (
            SELECT DISTINCT doc_b AS doc_id FROM neardup
            WHERE doc_a IN (SELECT doc_id FROM qok WHERE quality_ok)
              AND doc_b IN (SELECT doc_id FROM qok WHERE quality_ok)
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
               CAST(SUM(CASE WHEN quality_ok
                         AND doc_id IN (SELECT doc_id FROM losers)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_drop,
               CAST(SUM(CASE WHEN quality_ok
                         AND doc_id NOT IN (SELECT doc_id FROM losers)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
        FROM qok
        GROUP BY source ORDER BY source
    """,
}
