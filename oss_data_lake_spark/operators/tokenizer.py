"""e85: distributed BPE tokenizer training (Sennrich et al. 2016) — the
missing front of the LLM data pipeline: before token counting (e42),
packing (e76), or budget mixing (e78) you must LEARN the tokenizer, and at
100 TB that learning has to be a distributed aggregation, not a single-node
script.

Reference scope: the reference stack ships Jupyter for arbitrary
pandas-side analytics (reference `docker-compose.yaml` jupyter service,
`README.md` notebook workflow); training a subword vocabulary over the lake
is exactly the kind of notebook job this engine must absorb. The algorithm
is the classic iterative pair merge:

1. ONE corpus scan builds the WORD-TYPE table: distinct whitespace words
   with occurrence counts. Everything after runs on this table, whose size
   is the vocabulary of word types — bounded (~10M rows at 100 TB, Heaps'
   law), not corpus-sized. This is the map-reduce BPE layout (the
   Sennrich reference implementation's `get_vocabulary`).
2. Each of BPE_ROUNDS rounds:
   a. count adjacent symbol pairs weighted by word count — OVERLAPPING
      occurrences included ([a,a,a] counts (a,a) twice), matching the
      reference `get_stats`;
   b. pick the argmax pair, tiebreak (count DESC, left ASC, right ASC) —
      a bounded ONE-ROW driver collect (the fitted model, same contract
      as the IVF/PQ centroid collects in similarity.py);
   c. apply the merge to every word: GREEDY LEFTMOST non-overlapping
      ([a,a,a] -> [aa, a]), the reference `replace_pair` semantics.
3. Output the learned merge table: (rank, left_sym, right_sym, pair_count).

The merge application is a pure-Catalyst ``aggregate`` fold over the
symbol array (zero Python); the DuckDB oracle re-derives ALL rounds from
scratch with an INDEPENDENT formulation (positional windows: candidate
marks -> run parity for the a==b overlap case -> rebuild), so the two
engines agree only if both the pair statistics and the greedy merge
semantics are exactly right. Lineage is bounded by a localCheckpoint per
round (the connected-components cadence, operators/dedup.py).

Scale shape: per round = one explode + one aggregate over the word-type
table + one O(1) collect + one narrow fold projection. Rounds are a fixed
hyperparameter. Nothing is ever corpus-sized after step 1.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from oss_data_lake_spark.session import local_frame
from oss_data_lake_spark.sources.loaders import load_table

BPE_ROUNDS = 24

# --- batched multi-merge rounds (round 13) ---------------------------
# At a production vocab (32-96k merges) the one-collect-per-merge loop
# is driver-latency-bound. Each batch round instead collects the TOP-M
# pair counts once and applies up to BPE_BATCH_MAX merges from it —
# provably the SAME trajectory as classic one-at-a-time BPE, so the
# unbatched DuckDB replay oracle stays exact (and is now a differential
# check of the batching rule itself). A batch p1..pk (a consecutive
# PREFIX of the (count DESC, l, r) order) is accepted only when:
#
#   1. mutually symbol-disjoint, INCLUDING merged spellings: no l/r/
#      (l||r) string repeats anywhere in the batch — so applying p_j
#      cannot change any p_i's adjacencies or its recorded count;
#   2. no merged spelling collides with an EXISTING symbol (tracked as
#      a conservative superset: the initial alphabet ∪ all merged
#      tokens): a collision would let an existing pair's count GROW
#      (merging [x,a,b]→[x,s] adds to a live (x,s)), voiding bound 3;
#   3. strict count drop at the boundary: c(p_k) > c(next candidate).
#      Old non-batch pairs only ever lose occurrences (≤ c_next), and
#      every NEW pair (x, merged) is bounded by the old count of the
#      sharing pair (x, left) — also ≤ c_next since sharing pairs
#      cannot be in the disjoint prefix. So nothing can reach c(p_i)
#      before p_i's turn, and ties inside the prefix keep their static
#      (l, r) tiebreak order — the classic loop picks exactly p1..pk.
#
# A batch that cannot be verified (all M collected rows consumed, or a
# tie at the boundary) shrinks — down to k=1, which IS the classic
# step. Identity is pinned batched-vs-unbatched on the real fixture in
# tests/test_tokenizer_batch.py; the per-round scaling row lives in
# SCALE.md.
BPE_BATCH_MAX = 8
BPE_BATCH_TOPM = 64

# e87: GPT-2-style BYTE-LEVEL pre-tokenization (Radford et al. 2019) —
# the shape real training pipelines use on top of plain BPE:
# 1. a regex pre-tokenizer splits text into pre-tokens (contraction
#    suffixes, space-prefixed letter runs, digit runs, punctuation runs,
#    whitespace). The GPT-2 pattern's negative lookahead and \p{L}
#    classes are narrowed to ASCII classes here because the DuckDB
#    oracle's RE2 engine supports neither — the production swap is the
#    full unicode pattern, the MACHINERY (regex pre-tok → byte alphabet
#    → merge loop) is identical;
# 2. a BYTE-FALLBACK alphabet: every pre-token is its UTF-8 bytes, each
#    byte spelled as its 2-hex-digit symbol — a closed 256-symbol base
#    alphabet, no OOV ever, identical spelling in both engines
#    (hex(encode(w)) chunked in twos);
# 3. e85's merge loop unchanged over the pre-token-TYPE table (still
#    bounded by Heaps' law — pre-tokens are words with punctuation/space
#    splits, not corpus-sized).
BYTELEVEL_PRETOK_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
)


def _word_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "syms",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ),
        )
    )


def _word_types_bytelevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e87 step 1+2: regex pre-tokens → byte-fallback symbol arrays."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                "text", F.lit(BYTELEVEL_PRETOK_RE), F.lit(0)
            )
        ).alias("w")
    ).filter(F.length("w") > 0)
    return (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("__hx", F.hex(F.encode(F.col("w"), "UTF-8")))
        .withColumn(
            "syms",
            F.expr(
                "transform(sequence(1, length(__hx) DIV 2), "
                "i -> substring(__hx, 2*i - 1, 2))"
            ),
        )
        .drop("__hx")
    )


def _pair_counts(wt: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word count, overlapping included
    (zip of syms with its own tail — the reference get_stats)."""
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(syms[i - 1] AS l, syms[i] AS r))"
    )
    return (
        wt.filter(F.size("syms") >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


def _apply_merge(wt: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy leftmost non-overlapping merge of (left, right) in every
    word, as a Catalyst ``aggregate`` fold: append the symbol, or replace
    the just-appended ``left`` when the current symbol is ``right``. A
    just-merged token spells ``left || right`` and can never equal
    ``left`` (it is strictly longer), so overlapping re-merge is
    impossible — [a,a,a] folds to [aa, a] exactly like the reference."""
    lft, rgt = F.lit(left), F.lit(right)
    merged = F.lit(left + right)

    def step(acc: Column, x: Column) -> Column:
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == lft)
            & (x == rgt)
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    folded = F.aggregate(
        "syms", F.array().cast("array<string>"), step
    )
    return wt.withColumn("syms", folded)


# TRAIN-ONCE cache (the _pq_codebook protocol, in-session form): training
# is deterministic, e85 (the merge table) and e86 (corpus encoding) share
# one trajectory, and the checkpointed word-type table stays valid while
# the session lives and the input files are the ones it was trained on.
_TRAIN_CACHE: dict[tuple, tuple[object, tuple, list, DataFrame]] = {}


def _input_identity(sf_dir: str) -> tuple:
    """(path, inode, size, mtime_ns) of every file of the documents table,
    the stat check ``LocalFsCommitProtocol.manifest`` uses: a table
    rewritten at the same path no longer matches."""
    root = os.path.join(sf_dir, "documents.parquet")
    paths = [root] if os.path.isfile(root) else sorted(
        os.path.join(d, f) for d, _, files in os.walk(root) for f in files
    )
    ident = []
    for p in paths:
        st = os.stat(p)
        ident.append((p, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(ident)


def _select_batch(top: list, known: set, kmax: int) -> list:
    """The exact-batch prefix of the sorted candidate list (module
    docstring conditions 1-3). Always returns ≥1 row when ``top`` is
    non-empty — k=1 is the classic step, valid unconditionally."""
    acc, used = [], set()
    for row in top:
        l, r = row["l"], row["r"]
        m = l + r
        if acc and ({l, r, m} & used or m in known):
            break  # condition 1/2 ends the prefix
        acc.append(row)
        used |= {l, r, m}
        if m in known:
            # the FIRST pair's merged spelling collides with a live
            # symbol: its merge can grow other pairs' counts, so no
            # further pair's collected count is trustworthy — classic
            # single step only
            acc = acc[:1]
            break
        if len(acc) >= kmax:
            break
    # condition 3: strict count drop past the batch. When the whole
    # collected window was consumed the next count is UNKNOWN — shrink.
    exhausted = len(top) < BPE_BATCH_TOPM  # pair table fully listed
    while len(acc) > 1:
        k = len(acc)
        if k < len(top):
            if acc[-1]["c"] > top[k]["c"]:
                break
        elif exhausted:
            break  # no pairs exist beyond the list at all
        acc.pop()
    return acc


def _train(
    spark: SparkSession,
    sf_dir: str,
    rounds: int,
    bytelevel: bool = False,
    batch_max: int = BPE_BATCH_MAX,
) -> tuple[list, DataFrame]:
    import weakref

    key = (sf_dir, rounds, bytelevel, batch_max)
    ident = _input_identity(sf_dir)
    hit = _TRAIN_CACHE.get(key)
    if hit is not None:
        ref, hit_ident, merges, wt = hit
        # same LIVE session (not an id() alias) and unchanged input files
        if ref() is spark and hit_ident == ident:
            return merges, wt
        del _TRAIN_CACHE[key]  # stale session or rewritten input: retrain
    builder = _word_types_bytelevel if bytelevel else _word_types
    # lazy checkpoints throughout the trainer (r14): the next driver
    # action — the alphabet collect below, then each round's TOP-M pair
    # collect — materializes the word-type table in the same job an
    # eager checkpoint would have spent separately, halving the per-round
    # job count; trajectory is unchanged (same folds, same collects)
    wt = builder(spark, sf_dir).localCheckpoint(eager=False)
    # the collision superset (batch condition 2): initial alphabet —
    # ONE bounded collect (distinct symbols, not words) — grown with
    # every merged spelling; stale entries only make batching MORE
    # conservative, never wrong
    known = {
        r["s"]
        for r in wt.select(F.explode("syms").alias("s"))
        .distinct()
        .collect()
    }
    merges: list = []
    while len(merges) < rounds:
        top = (
            _pair_counts(wt)
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(BPE_BATCH_TOPM)
            .collect()
        )
        if not top:  # corpus exhausted below 2-symbol words
            break
        batch = _select_batch(
            top, known, min(batch_max, rounds - len(merges))
        )
        for b in batch:
            merges.append(
                (len(merges) + 1, b["l"], b["r"], int(b["c"]))
            )
            # stacked folds — ONE projection round, one checkpoint,
            # one pair-count job for the whole batch
            wt = _apply_merge(wt, b["l"], b["r"])
            known.add(b["l"] + b["r"])
        wt = wt.localCheckpoint(eager=False)
    _TRAIN_CACHE[key] = (weakref.ref(spark), ident, merges, wt)
    return merges, wt


def bpe_merge_table(
    spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """e85: the learned merge table — one row per round:
    (rank, left_sym, right_sym, pair_count), rank 1-based in learning order."""
    merges, _ = _train(spark, sf_dir, rounds)
    out = local_frame(
        spark,
        merges,
        "rank long, left_sym string, right_sym string, pair_count long",
    )
    return out.orderBy("rank")


def bpe_encode_report(
    spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """e86: ENCODE the corpus with the learned tokenizer — the serving
    half of e85, and the 100-TB encode shape: tokenization is word-level,
    so encode the (bounded) word-TYPE table once during training, then
    BROADCAST the word -> subword-count lookup and join it to per-(source,
    word) counts — zero per-token work on the corpus side, no Python
    anywhere. Per source: exact word/distinct-word/char totals and the
    BPE token total (whitespace token count == n_words, so the
    compression ratio bpe_tokens/n_words is derivable)."""
    _, wt = _train(spark, sf_dir, rounds)
    wl = wt.select("w", F.size("syms").cast("long").alias("toks"))
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    cw = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        cw.join(F.broadcast(wl), "w")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
            F.sum(F.col("c") * F.length("w")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("toks")).cast("long").alias("bpe_tokens"),
        )
        .orderBy("source")
    )


def bpe_bytelevel_merge_table(
    spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """e87: the byte-level merge table — e85's loop over the regex
    pre-token/byte-alphabet base (symbols are 2-hex-digit byte
    spellings; a learned token's spelling is its byte sequence in hex).
    Same full-trajectory DuckDB oracle style: every round's argmax pair
    re-derived from scratch with the positional formulation."""
    merges, _ = _train(spark, sf_dir, rounds, bytelevel=True)
    out = local_frame(
        spark,
        merges,
        "rank long, left_sym string, right_sym string, pair_count long",
    )
    return out.orderBy("rank")


QUERIES = {
    "e85_bpe_merge_table": bpe_merge_table,
    "e86_bpe_encode_report": bpe_encode_report,
    "e87_bpe_bytelevel_merge_table": bpe_bytelevel_merge_table,
}


_BPE_BASE_WS = """
        WITH wraw AS MATERIALIZED (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
          ) WHERE length(w) > 0 GROUP BY w
        ),
        w0 AS MATERIALIZED (
          SELECT w, cnt,
                 list_transform(range(1, length(w) + 1),
                                i -> w[CAST(i AS INT)]) AS syms
          FROM wraw
        )"""

# e87 base: the SAME pre-tokenizer regex (RE2-compatible by
# construction) and the SAME byte-fallback spelling — hex(encode(w))
# chunked in 2-hex-digit symbols — as the Spark side
_BPE_BASE_BYTELEVEL = f"""
        WITH wraw AS MATERIALIZED (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(regexp_extract_all(text,
                     '{BYTELEVEL_PRETOK_RE.replace("'", "''")}')) AS w
            FROM documents
          ) WHERE length(w) > 0 GROUP BY w
        ),
        w0 AS MATERIALIZED (
          SELECT w, cnt,
                 list_transform(range(1, length(hex(encode(w))) // 2 + 1),
                     i -> substring(hex(encode(w)),
                                    CAST(2 * i - 1 AS INT), 2)) AS syms
          FROM wraw
        )"""


def _bpe_cte_chain(rounds: int = BPE_ROUNDS, base: str = _BPE_BASE_WS) -> str:
    """Unrolled DuckDB replay of the full training trajectory (the e28
    PQ-Lloyd precedent): each round derives its own argmax pair and
    applies the merge with a POSITIONAL formulation — candidate marks,
    run parity for the a==b chain case, greedy keep/drop, list rebuild —
    deliberately different from the Spark fold. Ends at w{rounds}, the
    fully-merged word-type table. ``base`` supplies the wraw/w0 CTEs
    (whitespace+char alphabet for e85/e86; regex pre-tok + byte
    alphabet for e87)."""
    parts = [base]
    for t in range(rounds):
        parts.append(f""",
        p{t} AS (
          SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
                 SUM(cnt) AS c
          FROM w{t}, unnest(range(1, len(syms))) AS u(i)
          WHERE len(syms) >= 2
          GROUP BY 1, 2
        ),
        b{t} AS MATERIALIZED (
          SELECT l, r, CAST(c AS BIGINT) AS c FROM p{t}
          ORDER BY c DESC, l ASC, r ASC LIMIT 1
        ),
        e{t} AS (
          -- LEFT JOIN ON TRUE (not CROSS JOIN): when training exhausts
          -- early b{{t}} is EMPTY, and the round must be a no-op
          -- (w{{t+1}} == w{{t}}, every cand false via NULL bl) rather
          -- than emptying the whole chain — mirrors the Spark loop's
          -- break on an empty argmax
          SELECT w.w, w.cnt, b.l AS bl, b.r AS br,
                 unnest(w.syms) AS sym,
                 generate_subscripts(w.syms, 1) AS i
          FROM w{t} w LEFT JOIN b{t} b ON TRUE
        ),
        c{t} AS (
          SELECT *, COALESCE(sym = bl AND lead(sym) OVER
                       (PARTITION BY w ORDER BY i) = br, FALSE) AS cand
          FROM e{t}
        ),
        d{t} AS (
          SELECT *, lag(cand) OVER (PARTITION BY w ORDER BY i) AS pcand
          FROM c{t}
        ),
        g{t} AS (
          SELECT *, SUM(CASE WHEN cand IS DISTINCT FROM pcand
                             THEN 1 ELSE 0 END)
                     OVER (PARTITION BY w ORDER BY i) AS crun
          FROM d{t}
        ),
        s{t} AS (
          SELECT *, (cand AND row_number() OVER
                       (PARTITION BY w, crun ORDER BY i) % 2 = 1) AS sel
          FROM g{t}
        ),
        k{t} AS (
          SELECT *, (NOT sel AND NOT COALESCE(
                       lag(sel) OVER (PARTITION BY w ORDER BY i), FALSE))
                     AS keep
          FROM s{t}
        ),
        w{t + 1} AS MATERIALIZED (
          SELECT w, cnt,
                 list(CASE WHEN sel THEN bl || br ELSE sym END
                      ORDER BY i)
                   FILTER (WHERE sel OR keep) AS syms
          FROM k{t} GROUP BY w, cnt
        )""")
    return "".join(parts)


def _bpe_oracle(rounds: int = BPE_ROUNDS, base: str = _BPE_BASE_WS) -> str:
    return (
        _bpe_cte_chain(rounds, base)
        + "\n        SELECT * FROM (\n"
        + "\n          UNION ALL\n".join(
            f"          SELECT CAST({t + 1} AS BIGINT) AS rank, "
            f"l AS left_sym, r AS right_sym, c AS pair_count FROM b{t}"
            for t in range(rounds)
        )
        + "\n        ) ORDER BY rank"
    )


def _bpe_encode_oracle(rounds: int = BPE_ROUNDS) -> str:
    """e86 oracle: the SAME replayed trajectory, then the word-level
    encode join — word type -> final subword count — against per-(source,
    word) corpus counts."""
    return (
        _bpe_cte_chain(rounds)
        + f""",
        wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS toks
               FROM w{rounds}),
        cw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
                 SELECT source, unnest(string_split(text, ' ')) AS w
                 FROM documents
               ) WHERE length(w) > 0 GROUP BY source, w)
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
               CAST(SUM(c * length(w)) AS BIGINT) AS n_chars,
               CAST(SUM(c * toks) AS BIGINT) AS bpe_tokens
        FROM cw JOIN wl USING (w)
        GROUP BY source ORDER BY source"""
    )


ORACLES = {
    "e85_bpe_merge_table": _bpe_oracle(),
    "e86_bpe_encode_report": _bpe_encode_oracle(),
    "e87_bpe_bytelevel_merge_table": _bpe_oracle(
        base=_BPE_BASE_BYTELEVEL
    ),
}
