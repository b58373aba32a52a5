"""pipeline_bpe_train pins: the trainer the single-round BPE keys only
sample, checked end to end.

Four independent proofs of the iterative trainer:
  1. a pure-Python sequential mirror (dict + str.replace — a different
     engine with the same spec) reproduces the learned merge table AND
     the final segmentation on a hand-built corpus that exercises ties,
     overlapping pairs (runs like "aaaa"), and merged-symbol collisions;
  2. the merge batches the trainer certifies from one top-M pair list
     (``certified_merges``) are exactly the merges the sequential mirror
     makes one round at a time — a Hypothesis property, no Spark;
  3. the learned merge table ROUND-TRIPS through the text_bpe_encode
     apply semantics: replaying the table (two literal replaces per
     merge, in rank order) over the seed segmentation reproduces the
     trainer's final vocabulary exactly — table out == tokenizer in;
  4. determinism: two runs over the fixture corpus agree row-for-row.
"""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mergeextractor_spark.plans.bpe_pipeline import certified_merges

SF = "/root/testdata/sf0.001"


def _pair_counts(word_freq: dict[str, int], seg: dict[str, str]):
    pc: dict[tuple[str, str], int] = {}
    for w, f in word_freq.items():
        sy = seg[w].split()
        for i in range(len(sy) - 1):
            pc[(sy[i], sy[i + 1])] = pc.get((sy[i], sy[i + 1]), 0) + f
    return pc


def _apply(seg: dict[str, str], a: str, b: str) -> None:
    pat, rep = f" {a} {b} ", f" {a}{b} "
    for w in seg:
        seg[w] = seg[w].replace(pat, rep).replace(pat, rep)


def mirror_train(word_freq: dict[str, int], rounds: int):
    """Sequential pure-Python mirror of bpe_train: same seeding, same
    pair counting (all adjacent positions, frequency-weighted), same
    (freq desc, pair asc) argmax, same double str.replace apply."""
    seg = {w: " " + " ".join(w) + " " for w in word_freq}
    merges = []
    for k in range(1, rounds + 1):
        pc = _pair_counts(word_freq, seg)
        if not pc:
            break
        (a, b), pf = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, a, b, a + b, pf))
        _apply(seg, a, b)
    return merges, seg


def batched_mirror(word_freq: dict[str, int], rounds: int, top_pairs: int):
    """bpe_train's loop in pure Python: each pass lists the top
    ``top_pairs`` pairs and merges the batch ``certified_merges``
    settles from that list. Returns (merges, segmentation, passes)."""
    seg = {w: " " + " ".join(w) + " " for w in word_freq}
    merges, passes = [], 0
    while len(merges) < rounds:
        pc = _pair_counts(word_freq, seg)
        passes += 1
        if not pc:
            break
        top = sorted((a, b, f) for (a, b), f in pc.items())
        top = sorted(top, key=lambda p: -p[2])[:top_pairs]
        tau = top[-1][2] if len(top) == top_pairs else None
        batch = certified_merges(top, tau, {m[3] for m in merges})
        assert batch and batch[0] == top[0]  # the head is always merged
        for a, b, pf in batch[: rounds - len(merges)]:
            merges.append((len(merges) + 1, a, b, a + b, pf))
            _apply(seg, a, b)
    return merges, seg, passes


def _train_on(spark, rows: list[tuple[str, int]], rounds: int):
    from mergeextractor_spark.plans.bpe_pipeline import bpe_train

    vocab = spark.createDataFrame(rows, "w string, freq long").select(
        "w",
        "freq",
        F.concat(
            F.lit(" "),
            F.array_join(F.filter(F.split("w", ""), lambda x: x != ""), " "),
            F.lit(" "),
        ).alias("s"),
    )
    return bpe_train(vocab, rounds=rounds)


CORPUS = {
    # runs of one char: overlap semantics (greedy-with-resume, 2 passes)
    "aaaa": 7,
    "aaa": 5,
    # alternating pattern: the case the second replace pass exists for
    "ababab": 6,
    # tie bait: distinct pairs with equal weighted counts at some round
    "abcd": 4,
    "bcda": 4,
    # ordinary words sharing fragments
    "the": 9,
    "then": 3,
    "them": 3,
    "hen": 2,
}


def test_trainer_matches_sequential_mirror(spark):
    rounds = 8
    got_merges, got_final = _train_on(spark, list(CORPUS.items()), rounds)
    want_merges, want_seg = mirror_train(CORPUS, rounds)
    assert got_merges == want_merges
    got_seg = {r.w: r.s for r in got_final.collect()}
    assert got_seg == want_seg


@pytest.mark.parametrize("top_pairs", [2, 3])
def test_trainer_matches_mirror_on_cut_pair_lists(spark, monkeypatch, top_pairs):
    """With M = 2 or 3 every list is cut, so its last count (tau) bounds
    the unlisted pairs: at 2 no second pair can beat it and each job
    settles one merge; at 3 the jobs settle batches of two."""
    from mergeextractor_spark.plans import bpe_pipeline

    monkeypatch.setattr(bpe_pipeline, "TOP_PAIRS", top_pairs)
    batches = []
    certify = bpe_pipeline.certified_merges

    def recorded(top, tau, made):
        assert tau is not None
        batches.append(certify(top, tau, made))
        return batches[-1]

    monkeypatch.setattr(bpe_pipeline, "certified_merges", recorded)
    rounds = 8
    got_merges, got_final = _train_on(spark, list(CORPUS.items()), rounds)
    want_merges, want_seg = mirror_train(CORPUS, rounds)
    assert got_merges == want_merges
    assert {r.w: r.s for r in got_final.collect()} == want_seg
    assert max(map(len, batches)) == top_pairs - 1


_WORDS = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=9),
    st.sampled_from([1, 1, 2, 3, 5, 8]),  # few values: counts tie often
    min_size=1,
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(
    word_freq=_WORDS,
    rounds=st.integers(1, 25),
    top_pairs=st.sampled_from([1, 2, 3, 4, 5, 6, 7, 8, 256]),
)
# ties and overlapping runs under the two-replace rule
@example(word_freq=CORPUS, rounds=12, top_pairs=256)
@example(word_freq={"aaaaaa": 3, "aaaaa": 3, "aaa": 2}, rounds=6, top_pairs=256)
# aaab made twice, by a+aab and by aa+ab
@example(word_freq={"bab": 5, "aaabab": 4, "aab": 7, "aaaaab": 7}, rounds=10, top_pairs=256)
# a candidate that makes a symbol (aaab) an earlier merge of the batch made
@example(word_freq={"aaba": 5, "aaaaab": 5, "aaab": 9, "ab": 8}, rounds=10, top_pairs=256)
# a candidate that makes a symbol (aaa) that an earlier batch made
@example(word_freq={"baaaaa": 9, "aaa": 2, "abb": 5, "bbaab": 8}, rounds=10, top_pairs=256)
# exhausted vocabularies: no pair at all, and none after one merge
@example(word_freq={"a": 3, "b": 2}, rounds=5, top_pairs=256)
@example(word_freq={"ab": 1, "c": 4}, rounds=5, top_pairs=1)
def test_certified_batches_match_the_sequential_mirror(word_freq, rounds, top_pairs):
    """Merging each certified batch gives the merge table and the final
    segmentation of one merge per round, for any list length M."""
    merges, seg, passes = batched_mirror(word_freq, rounds, top_pairs)
    assert (merges, seg) == mirror_train(word_freq, rounds)
    assert passes <= len(merges) + 1


def test_trainer_runs_fewer_jobs_than_rounds(spark):
    """The key plus its toPandas() on sf0.001 stays within 16 Spark jobs
    (13 with one single-job pair count per batch; 43 with a map-stage
    job and a result job per merge), and a second pass compiles no
    generated class: the batch projections vary in length, and the
    session's class cache must still hold them all."""
    from mergeextractor_spark.registry import load_all

    q = load_all()["pipeline_bpe_train"]
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = scheduler.nextJobId()
    q.spark(spark, SF).toPandas()
    assert scheduler.nextJobId() - first_job <= 16
    before = compiles.getCount()
    q.spark(spark, SF).toPandas()
    assert compiles.getCount() == before


def test_merge_table_roundtrips_through_encoder_apply(spark):
    """Replaying the LEARNED table with text_bpe_encode's apply (two
    ' a b '→' ab ' replaces per merge, rank order) over the seed
    segmentation must reproduce the trainer's final state — the trainer
    output is directly consumable as the encoder's merge program."""
    from mergeextractor_spark.plans.bpe_pipeline import bpe_train, seed_vocab

    seed = seed_vocab(spark, SF)
    merges, final = bpe_train(seed, rounds=10)
    assert len(merges) == 10

    s = F.col("s")
    for _rank, a, b, _m, _f in merges:  # rank order preserved by the list
        for _ in range(2):
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    replayed = {r.w: r.s for r in seed.select("w", s.alias("s")).collect()}
    want = {r.w: r.s for r in final.collect()}
    assert replayed == want


def test_trainer_is_deterministic_on_fixture(spark):
    from mergeextractor_spark.registry import load_all

    q = load_all()["pipeline_bpe_train"]
    a = [tuple(r) for r in q.spark(spark, SF).collect()]
    b = [tuple(r) for r in q.spark(spark, SF).collect()]
    assert a == b
    assert len(a) == 20
    # ranks are 1..20 and merged symbols grow out of earlier ones
    assert [r[0] for r in sorted(a)] == list(range(1, 21))


def test_trainer_handles_exhausted_vocabulary(spark):
    """Single-char vocabulary has no pairs → zero merges, seed returned
    unchanged (the oracle's empty-CROSS-JOIN cascade twin)."""
    merges, final = _train_on(spark, [("a", 3), ("b", 2)], rounds=5)
    assert merges == []
    assert {r.s for r in final.collect()} == {" a ", " b "}
