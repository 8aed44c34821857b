"""e85 BPE training semantic anchor: a direct Python transcription of the
Sennrich et al. reference loop (overlapping get_stats, greedy leftmost
replace_pair, (count DESC, pair ASC) argmax) differentially checked against
the distributed implementation — on crafted corpora that hit the traps the
DuckDB oracle once hid (a==b merge chains, words ENDING in the left token)
and on the real fixture."""

from __future__ import annotations

from collections import Counter

import pytest

from oss_data_lake_spark.operators.tokenizer import (
    BPE_ROUNDS,
    bpe_merge_table,
)


def ref_bpe(word_counts: dict[str, int], rounds: int):
    """The reference algorithm, verbatim semantics."""
    vocab = {w: [list(w), c] for w, c in word_counts.items()}
    merges = []
    for rank in range(1, rounds + 1):
        stats: Counter = Counter()
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):  # overlapping pairs
                stats[(syms[i], syms[i + 1])] += c
        if not stats:
            break
        (l, r), c = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, c))
        for entry in vocab.values():
            syms = entry[0]
            out: list[str] = []
            for s in syms:  # greedy leftmost non-overlapping
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            entry[0] = out
    return merges


def _write_docs(spark, tmp_path, texts):
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(p + "/documents.parquet")
    return p


def _counts(texts):
    c: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                c[w] += 1
    return dict(c)


CRAFTED = [
    # a==b chains: [a,a,a] must merge to [aa, a], counts overlap-inclusive
    "aaa aaaa aa aaa aaa aaaa",
    # words ENDING in a merged left token (the oracle's lead()-NULL trap)
    "at bat rat format at at combat",
    "batch match hash batch match scan",
    # ties everywhere: force the (count DESC, l ASC, r ASC) tiebreak
    "xy yx xy yx zz zz",
    "",  # empty doc survives the split
]


def test_e85_crafted_equals_reference(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, CRAFTED)
    want = ref_bpe(_counts(CRAFTED), 12)
    got = [tuple(r) for r in bpe_merge_table(spark, sf, rounds=12).collect()]
    assert got == want
    # the corpus really exercises the a==b chain: some merge has l == r
    assert any(l == r for _, l, r, _ in want)


def test_e85_retrains_after_input_rewritten_in_place(
    spark, tmp_path, monkeypatch
):
    """The train-once cache holds while the documents files are unchanged,
    and a corpus rewritten at the same path is trained afresh instead of
    answering with the old corpus's merges."""
    from oss_data_lake_spark.operators import tokenizer

    builds = []
    real = tokenizer._word_types
    monkeypatch.setattr(
        tokenizer, "_word_types",
        lambda s, d: builds.append(d) or real(s, d),
    )
    first = ["low lower lowest", "newer wider", "low low"]
    second = ["tt tt tt ab", "abab ab", "xy"]
    sf = _write_docs(spark, tmp_path, first)
    want = ref_bpe(_counts(first), 6)
    assert [tuple(r) for r in bpe_merge_table(spark, sf, 6).collect()] == want
    assert [tuple(r) for r in bpe_merge_table(spark, sf, 6).collect()] == want
    assert len(builds) == 1  # unchanged input: the cache answers
    _write_docs(spark, tmp_path, second)
    got = [tuple(r) for r in bpe_merge_table(spark, sf, 6).collect()]
    assert got == ref_bpe(_counts(second), 6)
    assert len(builds) == 2


def test_e85_fixture_equals_reference(spark, sf_dir):
    import duckdb

    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    want = ref_bpe(_counts(texts), BPE_ROUNDS)
    got = [tuple(r) for r in bpe_merge_table(spark, sf_dir).collect()]
    assert got == want
    assert len(got) == BPE_ROUNDS
    # the learned vocabulary is real subwords, not single chars
    assert any(len(l + r) >= 4 for _, l, r, _ in got)


def test_e85_merge_counts_monotone_within_ties(spark, sf_dir):
    """Sanity: pair_count never increases round over round by more than a
    merge can create (a merged token's adjacencies) — in practice on this
    corpus the sequence is non-increasing except when a new merged token
    forms a more frequent pair; at minimum counts stay positive and ranks
    are dense."""
    rows = bpe_merge_table(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["pair_count"] > 0 for r in rows)


def test_e86_encode_reconciles_with_reference(spark, sf_dir):
    """e86: per-source BPE token totals equal re-encoding every word with
    the reference merge list; whitespace totals and char totals reconcile
    with raw corpus arithmetic; training runs ONCE for e85+e86 (the
    train-once cache)."""
    import duckdb

    from oss_data_lake_spark.operators.tokenizer import (
        _TRAIN_CACHE,
        bpe_encode_report,
    )

    rows = duckdb.sql(
        f"SELECT source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    texts = [t for _, t in rows]
    merges = [(l, r) for _, l, r, _ in ref_bpe(_counts(texts), BPE_ROUNDS)]

    def encode_len(word: str) -> int:
        syms = list(word)
        for l, r in merges:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            syms = out
        return len(syms)

    want: dict = {}
    for src, text in rows:
        for w in text.split(" "):
            if not w:
                continue
            e = want.setdefault(src, [0, set(), 0, 0])
            e[0] += 1
            e[1].add(w)
            e[2] += len(w)
            e[3] += encode_len(w)
    got = {
        r["source"]: (
            r["n_words"], r["n_distinct_words"], r["n_chars"],
            r["bpe_tokens"],
        )
        for r in bpe_encode_report(spark, sf_dir).collect()
    }
    assert got == {
        s: (n, len(d), ch, bt) for s, (n, d, ch, bt) in want.items()
    }
    # BPE compresses: strictly fewer tokens than characters, and no more
    # tokens than whitespace words * max word length
    for n, nd, ch, bt in got.values():
        assert n <= bt < ch
    # the train-once cache holds exactly one WHITESPACE trajectory for
    # this session (e87's byte-level trajectory caches under its own
    # bytelevel=True key and may coexist when the suite ran it first)
    keys = [k for k in _TRAIN_CACHE if k[0] == sf_dir and not k[2]]
    assert len(keys) == 1


def test_e86_oracle_survives_training_exhaustion(spark, tmp_path):
    """A corpus whose words fully merge in fewer than BPE_ROUNDS rounds:
    the Spark loop breaks on the empty argmax and keeps the last word
    table; the DuckDB oracle's remaining rounds must be NO-OPS (LEFT
    JOIN ON TRUE), not empty out the chain — both engines must agree."""
    import duckdb

    from oss_data_lake_spark.operators.tokenizer import (
        _bpe_encode_oracle,
        _bpe_oracle,
        bpe_encode_report,
        bpe_merge_table,
    )

    texts = ["ab ab ab b a", "ab a b", ""]  # exhausts after 1 merge
    sf = _write_docs(spark, tmp_path, texts)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    got_m = [tuple(r) for r in bpe_merge_table(spark, sf).collect()]
    want_m = [tuple(r) for r in con.execute(_bpe_oracle()).fetchall()]
    assert got_m == want_m
    assert len(got_m) < 24  # training really exhausted early
    got_e = [tuple(r) for r in bpe_encode_report(spark, sf).collect()]
    want_e = [tuple(r) for r in con.execute(_bpe_encode_oracle()).fetchall()]
    assert got_e == want_e
    assert got_e and all(r[1] > 0 for r in got_e)  # non-empty totals


# ------------------------- e87: byte-level BPE ---------------------------
import re as _re

from oss_data_lake_spark.operators.tokenizer import (
    BYTELEVEL_PRETOK_RE,
    bpe_bytelevel_merge_table,
)

_PRETOK = _re.compile(BYTELEVEL_PRETOK_RE)


def ref_bytelevel_bpe(texts, rounds):
    """Reference byte-level trajectory: Python re pre-tokenization, the
    byte-fallback hex alphabet, then the verbatim Sennrich loop."""
    wc: Counter = Counter()
    for t in texts:
        for w in _PRETOK.findall(t):
            if w:
                wc[w] += 1
    hx = {
        w: [
            w.encode("utf-8").hex().upper()[i: i + 2]
            for i in range(0, 2 * len(w.encode("utf-8")), 2)
        ]
        for w in wc
    }
    vocab = {w: [list(hx[w]), c] for w, c in wc.items()}
    merges = []
    for rank in range(1, rounds + 1):
        stats: Counter = Counter()
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += c
        if not stats:
            break
        (l, r), c = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, c))
        for entry in vocab.values():
            out: list[str] = []
            for s in entry[0]:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            entry[0] = out
    return merges


CRAFTED_BYTES = [
    # contractions hit the suffix alternatives; digits and punctuation
    # split into their own runs; multiple spaces become whitespace tokens
    "it's  don't can't 1234 56x!! it's",
    # multi-byte UTF-8: the byte-fallback alphabet must spell every byte
    "héllo naïve héllo café éé",
    # space-prefixed letter runs (the GPT-2 ' word' shape)
    "the cat the bat the mat",
    "",
]


def test_e87_crafted_equals_reference(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, CRAFTED_BYTES)
    want = ref_bytelevel_bpe(CRAFTED_BYTES, 12)
    got = [
        tuple(r)
        for r in bpe_bytelevel_merge_table(spark, sf, rounds=12).collect()
    ]
    assert got == want
    # multi-byte fallback really fired: some merged symbol spells a
    # UTF-8 continuation byte (hex >= 80)
    flat = "".join(l + r for _, l, r, _ in want)
    assert any(
        int(flat[i: i + 2], 16) >= 0x80 for i in range(0, len(flat), 2)
    )


def test_e87_fixture_equals_reference(spark, sf_dir):
    import duckdb

    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    want = ref_bytelevel_bpe(texts, BPE_ROUNDS)
    got = [
        tuple(r) for r in bpe_bytelevel_merge_table(spark, sf_dir).collect()
    ]
    assert got == want
    assert len(got) == BPE_ROUNDS
    # the GPT-2 shape is present: some learned token starts with the
    # space byte (0x20) — the ' word' pre-token family
    assert any(l.startswith("20") for _, l, r, _ in got)
