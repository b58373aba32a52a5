"""pipeline_classifier_distill pins (r14 flagship #10 — VERDICT r13
item 2: the closed train→persist→apply loop).

Proofs:
  1. the per-doc distill frame matches the sequential Python mirror's
     apply pass exactly (same learned weights — pinned bit-identical by
     test_classifier_train — scored over the same features);
  2. train accuracy vs the distilled heuristic labels >= the measured
     0.91 floor at sf0.001 (the VERDICT r13 item 2 'Done' bar);
  3. the weight STORE is real persistence: the second construction
     reuses the parquet store (no retrain — _SUCCESS mtime unchanged),
     and the store directory fingerprint changes when the training
     parameters do;
  4. the confusion summary is a partition of the corpus (cells sum to
     the doc count, shares sum to 1).
"""

from __future__ import annotations

import os

from tests.test_classifier_train import SF, _fixture_texts, mirror_train


def _distill_rows(spark):
    from mergeextractor_spark.registry import load_all

    return load_all()["pipeline_classifier_distill"].spark(spark, SF).collect()


def test_distill_matches_sequential_mirror(spark):
    w, feat, lab = mirror_train(_fixture_texts(spark))
    got = {
        r.doc_id: (r.score_units, r.learned_label, r.heuristic_label)
        for r in _distill_rows(spark)
    }
    # every doc with tokens appears with the mirror's exact int score;
    # learned_label = score >= 0 (p = 0.5 classifies positive)
    for doc_id, f in feat.items():
        s = sum(x * w[b] for b, x in f.items())
        assert got[doc_id] == (s, int(s >= 0), lab[doc_id]), doc_id
    # docs with NO tokens (if any) score 0 and label (1, 1)
    for doc_id in set(got) - set(feat):
        assert got[doc_id] == (0, 1, 1), doc_id


def test_distill_accuracy_floor(spark):
    rows = _distill_rows(spark)
    assert rows
    acc = sum(r.learned_label == r.heuristic_label for r in rows) / len(rows)
    # VERDICT r13 item 2: pin the measured 0.91 sf0.001 train-accuracy
    # floor — a regression in the trainer, the store, or the apply join
    # shows up here before the driver gate
    assert acc >= 0.91, acc


def test_store_is_persisted_and_reused(spark):
    from mergeextractor_spark.plans.classifier_pipeline import ensure_clf_store

    path = ensure_clf_store(spark, SF)
    success = os.path.join(path, "_SUCCESS")
    assert os.path.isfile(success)
    before = os.path.getmtime(success)
    assert ensure_clf_store(spark, SF) == path
    assert os.path.getmtime(success) == before, "second ensure retrained"


def test_store_fingerprint_tracks_parameters(spark):
    from mergeextractor_spark.plans.classifier_pipeline import ensure_clf_store

    # another round count gets its OWN store — a 6-round table can
    # never be served to the 12-round oracle
    assert ensure_clf_store(spark, SF, rounds=6) != ensure_clf_store(spark, SF)


def test_confusion_summary_partitions_the_corpus(spark):
    from mergeextractor_spark.plans.classifier_pipeline import (
        clf_distill_summary,
    )
    from mergeextractor_spark.registry import load_all

    per_doc = load_all()["pipeline_classifier_distill"].spark(spark, SF)
    cells = clf_distill_summary(per_doc).collect()
    assert 1 <= len(cells) <= 4
    assert sum(c.n for c in cells) == per_doc.count()
    assert abs(sum(c.share for c in cells) - 1.0) < 1e-6
