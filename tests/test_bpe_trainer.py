"""Independent check of the BPE trainer: a pure-Python reference
implementation (no Spark, no DuckDB) must produce the identical merge
trajectory — rules, order, and weighted counts — on the same corpus.

This triangulates the engine against something other than its oracle:
the oracle replays the algorithm in SQL (recursive-CTE greedy
selection + list_reduce folds), this replays it in plain Python
dictionaries, and all three must agree exactly.

Round 7: the trajectory is the BATCHED greedy rule — each round ranks
pairs by (count DESC, pair ASC), keeps the top BPE_CAND_POOL, selects
up to BPE_BATCH symbol-disjoint pairs greedily in rank order, and
applies the whole batch in one combined left-to-right fold.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from .conftest import SF_DIR


def _reference_bpe(
    words: list[str],
    n_merges: int,
    batch: int,
    rounds_max: int,
    pool: int,
):
    """Pure-Python batched BPE: returns (merges, final_vocab, rounds,
    round_sizes)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in Counter(words).items():
        vocab[tuple(w)] = c
    merges: list[tuple[int, str, str, str, int]] = []
    rounds = 0
    round_sizes: list[int] = []
    while rounds < rounds_max and len(merges) < n_merges:
        rounds += 1
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        cands = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:pool]
        if not cands:
            break
        cap = min(batch, n_merges - len(merges))
        used: set[str] = set()
        sel: list[tuple[str, str, int]] = []
        for (a, b), n in cands:
            if len(sel) >= cap:
                break
            if a in used or b in used:
                continue
            sel.append((a, b, n))
            used.update((a, b))
        if not sel:
            break
        round_sizes.append(len(sel))
        for a, b, n in sel:
            merges.append((len(merges) + 1, a, b, a + b, n))
        # combined fold: at most one rule claims any symbol (b's are
        # distinct by disjointness) — fuse when the previous emitted
        # symbol is that rule's a
        rules = {b: a for a, b, _ in sel}
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            for s in syms:
                a = rules.get(s)
                if out and a is not None and out[-1] == a:
                    out[-1] = a + s
                else:
                    out.append(s)
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges, vocab, rounds, round_sizes


def _corpus_words() -> list[str]:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    return [w for t in docs["text"] for w in t.split(" ") if w]


def _params():
    from map_reduce_framework_spark.operators.text import (
        BPE_BATCH,
        BPE_CAND_POOL,
        BPE_MERGES,
        BPE_ROUNDS_MAX,
    )

    return BPE_MERGES, BPE_BATCH, BPE_ROUNDS_MAX, BPE_CAND_POOL


def test_bpe_merges_match_pure_python_reference(spark):
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators import text

    n_merges, batch, rounds_max, pool = _params()
    try:
        got, _, rounds = text._bpe_train(spark, SF_DIR)
    finally:
        cache.release()
    want, _, ref_rounds, _ = _reference_bpe(
        _corpus_words(), n_merges, batch, rounds_max, pool
    )
    assert got == want
    assert len(got) == n_merges >= 64  # a real vocab-scale run
    # rules must be distinct
    assert len({(a, b) for _, a, b, _, _ in got}) == n_merges
    # the batching claim: one driver collect (= one scheduled job) per
    # round, and rounds <= merges/4
    assert rounds == ref_rounds
    assert rounds <= n_merges // 4


def test_bpe_round_selection_is_symbol_disjoint(spark):
    """Within any one round's batch no symbol may repeat — that is what
    makes the combined fold order-independent and the per-round job
    count honest."""
    from map_reduce_framework_spark.operators import text

    n_merges, batch, rounds_max, pool = _params()
    merges, _, _, round_sizes = _reference_bpe(
        _corpus_words(), n_merges, batch, rounds_max, pool
    )
    start = 0
    for size in round_sizes:
        chunk = merges[start : start + size]
        # CROSS-RULE disjointness: a self-pair like (g, g) legally uses
        # its symbol twice within one rule; no symbol may appear in two
        # different rules of the same round
        pair_sets = [{a, b} for _, a, b, _, _ in chunk]
        for i in range(len(pair_sets)):
            for j in range(i + 1, len(pair_sets)):
                assert not (pair_sets[i] & pair_sets[j]), (
                    f"rules {i} and {j} share a symbol in round at {start}"
                )
        assert size <= batch
        start += size


def test_bpe_greedy_overlap_semantics(spark):
    """The fold must be greedy left-to-right: 'aaa' under merge (a,a)
    segments as (aa, a), never (a, aa) — pinned on a planted corpus
    where 'aa' is the dominant pair."""
    import pandas as pd

    from map_reduce_framework_spark.operators.text import _bpe_apply_merge

    df = spark.createDataFrame(
        pd.DataFrame({"syms": ["a\x1fa\x1fa", "b\x1fa\x1fa", "a\x1fb"]})
    )
    out = [
        r["m"]
        for r in df.select(
            _bpe_apply_merge("a", "a").alias("m")
        ).collect()
    ]
    assert out == ["aa\x1fa", "b\x1faa", "a\x1fb"]


def test_bpe_batch_fold_applies_disjoint_rules_in_one_pass(spark):
    """A combined fold over a disjoint batch must equal applying each
    rule's fold sequentially on THIS fixture.  Note the equivalence is
    not a general theorem: symbol-disjointness does not forbid one
    rule's merged OUTPUT matching another rule's operand (e.g. ("a","b")
    and ("ab","c") in one batch), where the single combined pass would
    chain fusions that per-rule sequential application would not.  The
    engine, the recursive-CTE oracle, and the pure-Python reference all
    implement the identical combined-pass batched semantics, so parity
    holds regardless; this test pins that the two application orders
    agree on a batch without such output/operand collisions."""
    import pandas as pd

    from map_reduce_framework_spark.operators.text import (
        _bpe_apply_batch,
        _bpe_apply_merge,
    )

    rows = ["c\x1fa\x1fb\x1fd", "a\x1fb\x1fc\x1fd", "d\x1fc\x1fa\x1fa"]
    df = spark.createDataFrame(pd.DataFrame({"syms": rows}))
    batch = [("a", "b"), ("c", "d")]
    combined = [
        r["m"] for r in df.select(_bpe_apply_batch(batch).alias("m")).collect()
    ]
    seq = df
    for a, b in batch:
        seq = seq.select(_bpe_apply_merge(a, b).alias("syms"))
    sequential = [r["syms"] for r in seq.collect()]
    assert combined == sequential == ["c\x1fab\x1fd", "ab\x1fcd", "d\x1fc\x1fa\x1fa"]


def test_bpe_segmentation_matches_reference(spark):
    """Per-document token counts from the vocab-join application pass
    must equal applying the reference batched trajectory to every word
    in plain Python."""
    from map_reduce_framework_spark.operators.text import bpe_segment_docs

    n_merges, batch, rounds_max, pool = _params()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    words = [w for t in docs["text"] for w in t.split(" ") if w]
    _, final_vocab, _, _ = _reference_bpe(
        words, n_merges, batch, rounds_max, pool
    )
    n_tok = {"".join(syms): len(syms) for syms in final_vocab}

    want = {}
    for doc_id, text_ in zip(docs["doc_id"], docs["text"]):
        ws = [w for w in text_.split(" ") if w]
        want[doc_id] = (
            len(ws),
            sum(n_tok[w] for w in ws),
            sum(len(w) for w in ws),
        )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"])
        for r in bpe_segment_docs(spark, SF_DIR).collect()
    }
    assert got == want
    # merges must actually compress: tokens < chars somewhere
    assert any(t < c for _, t, c in got.values())


def test_tokenizer_fertility_consistency(spark):
    """The per-language rollup must reconcile exactly with the per-doc
    application pass (same trained merges, same corpus): summed tokens
    and words agree, fertility is ≥ 1 everywhere (a word is at least
    one token), and chars/token is positive."""
    from map_reduce_framework_spark.operators.text import (
        bpe_segment_docs,
        tokenizer_fertility,
    )

    from .conftest import SF_DIR

    per_lang = tokenizer_fertility(spark, SF_DIR).collect()
    per_doc = bpe_segment_docs(spark, SF_DIR).collect()
    assert per_lang, "non-vacuous"
    assert sum(r["n_words"] for r in per_lang) == sum(
        r["n_words"] for r in per_doc
    )
    assert sum(r["n_tokens"] for r in per_lang) == sum(
        r["n_tokens"] for r in per_doc
    )
    for r in per_lang:
        assert r["fertility"] >= 1.0, r
        assert r["chars_per_token"] > 0, r
        assert r["n_docs"] >= 1


def test_tokenizer_fertility_matches_oracle(spark, duck):
    from map_reduce_framework_spark.operators.text import ORACLES, tokenizer_fertility

    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        spark,
        duck,
        tokenizer_fertility,
        ORACLES["tokenizer_fertility"],
        "tokenizer_fertility",
    )
