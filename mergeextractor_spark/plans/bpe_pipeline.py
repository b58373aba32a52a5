"""Flagship #8: iterative BPE tokenizer TRAINING (`pipeline_bpe_train`)
— the end-to-end merge LOOP the single-round keys only sample
(VERDICT r12 item 4): `text_bpe_merge_candidates` ranks one round of
merge candidates and `text_bpe_encode` applies a FIXED merge table;
this plan runs the actual trainer — k rounds of

    count adjacent symbol pairs over the vocabulary
    →  pick the argmax pair (freq desc, (lhs, rhs) asc tiebreak)
    →  apply the merge to every word's segmentation
    →  repeat on the merged vocabulary

and returns the learned, ordered merge table. Reference parity:
MergeExtractor tokenizes with a pre-trained BPE vocabulary (SURVEY §2.8
embed/token paths); this is the operator that PRODUCES such a
vocabulary from the corpus, the missing end of the tokenizer family.

Representation and apply semantics are exactly `text_bpe_encode`'s
(curation_queries.py): a word is a space-separated symbol string with
space sentinels (" h e l l o "), and applying merge (a, b) rewrites
" a b " → " ab " with plain string replace run TWICE (replace resumes
scanning after each substitution; the second pass catches the
alternating occurrences the first sweep skips — identical
left-to-right resume semantics in Spark, DuckDB, and Python
str.replace, so the learned table round-trips through the encoder
bit-identically: pytest-pinned in tests/test_bpe_train.py).

Scale shape (100 TB): the ONLY corpus-sized work is the seed pass —
one tokenize + groupBy(word) building the (word, freq) vocabulary,
the classic BPE trick (pair statistics are frequency-weighted sums
over DISTINCT words, so every training round touches |vocab| short
strings regardless of corpus token count; at 100 TB that is ~1e7-1e8
rows vs ~1e13 tokens). Each round is one vocab-sized pair-count
aggregate (map-side partial sums; shuffles carry (lhs, rhs, freq)
only, never text) plus a 1-ROW argmax collect — bounded by the round
count, the same boundedness class as global_cumsum's per-partition
offsets — and a narrow map applying two literal replaces. Lineage is
truncated every second round exactly like graph_pagerank
(graph_queries.py pagerank), so the composed plan never exceeds two
rounds of depth.

The DuckDB oracle unrolls the IDENTICAL rounds as chained CTEs
(the _pagerank_oracle pattern), so the iterative trainer is
value-checked end-to-end, not rows-only. seg{k} is referenced twice
per round (pair counts + next segmentation), so each round's CTEs are
AS MATERIALIZED — naive inlining would double the expression tree per
round (2^k blowup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators._util import t, truncate_lineage
from ..registry import register

# Merge rounds; the oracle string is generated at import from the same
# constant.
BPE_TRAIN_ROUNDS = 20


def _bpe_cte_prefix(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """Unrolled CTE prefix ending at seg{rounds}/best{rounds}: seg0 =
    per-character segmentation of the distinct alphabetic vocabulary;
    each round materializes pair counts, the argmax pair, and the
    merged segmentation.  An exhausted vocabulary (no pairs left)
    empties best{k}, which empties every later seg{k} via the CROSS
    JOIN — contributing zero rows from that round on, exactly matching
    the Spark loop's early break.  Shared by the train oracle (reads
    the best{k} union) and the distill oracle (reads seg{rounds})."""
    parts = [
        r"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
      FROM documents
    ),
    seg0 AS MATERIALIZED (
      SELECT w, count(*) AS freq,
             ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
      FROM words WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w
    )"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
    pairs{k} AS MATERIALIZED (
      SELECT sy[i] AS lhs, sy[i + 1] AS rhs, sum(freq) AS pfreq
      FROM (SELECT freq, string_split(trim(s), ' ') AS sy FROM seg{k - 1}),
           unnest(range(1, len(sy))) AS u(i)
      WHERE len(sy) >= 2
      GROUP BY sy[i], sy[i + 1]
    ),
    best{k} AS MATERIALIZED (
      SELECT lhs, rhs, pfreq FROM pairs{k}
      ORDER BY pfreq DESC, lhs, rhs LIMIT 1
    ),
    seg{k} AS MATERIALIZED (
      SELECT t.w, t.freq,
             replace(replace(t.s, ' ' || b.lhs || ' ' || b.rhs || ' ',
                                  ' ' || b.lhs || b.rhs || ' '),
                     ' ' || b.lhs || ' ' || b.rhs || ' ',
                     ' ' || b.lhs || b.rhs || ' ') AS s
      FROM seg{k - 1} t CROSS JOIN best{k} b
    )"""
        )
    return "".join(parts)


def _bpe_train_oracle(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    selects = [
        f"SELECT {k} AS merge_rank, lhs, rhs, lhs || rhs AS merged, "
        f"CAST(pfreq AS BIGINT) AS freq FROM best{k}"
        for k in range(1, rounds + 1)
    ]
    return (
        _bpe_cte_prefix(rounds)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


def _bpe_distill_oracle(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """Train CTEs (shared prefix) + the APPLY surface: seg{rounds} IS
    the whole vocabulary segmented by the learned merge program — the
    trainer maintains it in-loop.  The Spark side instead re-applies
    the merges read back from the PERSISTED store to a fresh seed, so a
    hash match proves the encoder round-trip through disk (the
    tests/test_bpe_train.py round-trip property, now driver-checked).
    Precondition: the vocabulary must not exhaust before ``rounds``
    merges (an exhausted best{k} empties seg{rounds} here while the
    Spark side would still emit the last segmentation) — at fixture
    scales exhaustion needs thousands of rounds; pinned in
    tests/test_bpe_distill.py."""
    return (
        _bpe_cte_prefix(rounds)
        + f"""
    SELECT w AS word, CAST(freq AS BIGINT) AS freq, trim(s) AS pieces,
           CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_pieces
    FROM seg{rounds}
    """
    )


def seed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's corpus-sized pass: distinct alphabetic words with
    counts, seeded to per-character segmentation (text_bpe_encode's
    representation: space-separated symbols, space sentinels)."""
    wtok = t(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("w")
    )
    wc = (
        wtok.filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    s = F.concat(
        F.lit(" "),
        F.array_join(F.filter(F.split(F.col("w"), ""), lambda x: x != ""), " "),
        F.lit(" "),
    )
    return wc.select("w", "freq", s.alias("s"))


def bpe_train(
    vocab: DataFrame, rounds: int = BPE_TRAIN_ROUNDS
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run ``rounds`` BPE merge rounds over a ``(w, freq, s)`` vocabulary
    frame; returns (merge table rows, final segmented vocabulary).

    Per round: pair-count aggregate (vocab-sized), 1-ROW argmax collect
    (driver traffic bounded by the round count), two literal replaces.
    Lineage truncated every second round (and after the last merge) —
    LAZILY (r14, the graph_pagerank policy): the round's argmax collect
    is already a mandatory blocking job, so a lazy cut materializes
    inside it instead of as a second driver job, and a two-round plan
    (1 aggregate + 2 narrow maps per round) is trivially small for
    Catalyst."""
    vocab = truncate_lineage(vocab, eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(1, rounds + 1):
        sym = F.split(F.trim("s"), " ")
        # Filter BEFORE building the pair expression so correctness never
        # depends on Catalyst pushing the predicate below the Generate:
        # on a single-symbol word sequence(1, size-1) = sequence(1, 0)
        # yields the DESCENDING [1, 0] and element_at(sym, 0) throws
        # "SQL array indices start at 1" (ADVICE r13 medium).
        # Explode the POSITION RANGE, then build the pair in a plain
        # codegen'd projection (r14 §2: the transform() lambda runs
        # through the interpreted HigherOrderFunction path) — same
        # (lhs, rhs, freq) multiset by construction.
        pairs = (
            vocab.filter(F.size(sym) >= 2)
            .select("freq", sym.alias("__sym"))
            .select(
                "freq",
                "__sym",
                F.explode(
                    F.sequence(F.lit(1), F.size("__sym") - 1)
                ).alias("__i"),
            )
            .select(
                "freq",
                F.struct(
                    F.element_at("__sym", F.col("__i")).alias("lhs"),
                    F.element_at("__sym", F.col("__i") + 1).alias("rhs"),
                ).alias("pr"),
            )
        )
        best = (
            pairs.groupBy("pr.lhs", "pr.rhs")
            .agg(F.sum("freq").alias("pfreq"))
            .orderBy(F.desc("pfreq"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # vocabulary exhausted — matches the oracle's
            # empty-CROSS-JOIN cascade (zero rows from round k on)
        a, b, pf = best[0].lhs, best[0].rhs, int(best[0].pfreq)
        merges.append((k, a, b, a + b, pf))
        s = F.col("s")
        for _ in range(2):
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        vocab = vocab.select("w", "freq", s.alias("s"))
        if k % 2 == 0 or k == rounds:
            vocab = truncate_lineage(vocab, eager=False)
    return merges, vocab


@register(
    "pipeline_bpe_train",
    oracle=_bpe_train_oracle(),
    doc=f"Flagship #8: iterative BPE tokenizer training — "
    f"{BPE_TRAIN_ROUNDS} merge rounds over the distinct alphabetic "
    "vocabulary (count adjacent pairs → argmax with (freq desc, pair "
    "asc) tiebreak → apply ' a b '→' ab ' twice, the text_bpe_encode "
    "apply semantics), returning the learned ordered merge table. "
    "Oracle unrolls the identical rounds as MATERIALIZED CTEs (the "
    "graph_pagerank pattern), so the loop is value-checked end-to-end. "
    "Corpus-sized work is ONE tokenize+groupBy(word) seed pass; each "
    "round is a |vocab|-row pair aggregate plus a 1-row argmax collect "
    "(driver traffic bounded by the round count) and lineage truncates "
    "every second round. Round-trip through the encoder is "
    "pytest-pinned (tests/test_bpe_train.py).",
    eager=True,  # construction runs the merge loop (argmax collects)
)
def pipeline_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _final = bpe_train(seed_vocab(spark, sf_dir))
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, merged string, freq bigint"
    )


def bpe_store_write(spark: SparkSession, sf_dir: str, path: str,
                    rounds: int = BPE_TRAIN_ROUNDS) -> None:
    """Train and persist the ordered merge table — the tokenizer
    artifact.  At 100 TB this is what ships to every encode job: a
    rounds-sized parquet read once per executor, never retrained in the
    apply path."""
    merges, _final = bpe_train(seed_vocab(spark, sf_dir), rounds=rounds)
    spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, merged string, freq bigint"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def ensure_bpe_store(spark: SparkSession, sf_dir: str,
                     rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """The merge store, trained once per (warehouse, sf_dir, training
    parameters).  Its params fold in the round count and the
    representation version, so a store trained with other values is
    never served to an oracle that trains the full count."""
    return store.ensure(
        spark, "bpe_merge_store_", f"{sf_dir}|r{rounds}v1", sf_dir, ("documents",),
        lambda path: bpe_store_write(spark, sf_dir, path, rounds=rounds),
    )


def bpe_store_read(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("merge_rank", T.IntegerType()),
            T.StructField("lhs", T.StringType()),
            T.StructField("rhs", T.StringType()),
            T.StructField("merged", T.StringType()),
            T.StructField("freq", T.LongType()),
        ]
    )
    return spark.read.schema(schema).parquet(path)


@register(
    "pipeline_bpe_distill",
    oracle=_bpe_distill_oracle(),
    doc="Flagship #11: the closed BPE train→persist→encode loop (the "
    "tokenizer twin of pipeline_classifier_distill). Trains the "
    f"{BPE_TRAIN_ROUNDS}-merge table, persists it to a parquet merge "
    "store (_SUCCESS freshness + parameter-fingerprinted directory), "
    "reads it BACK from disk (rank-ordered driver collect bounded by "
    "the round count), and encodes the ENTIRE distinct alphabetic "
    "vocabulary with the learned program — per word: (word, freq, "
    "pieces, n_pieces). The oracle reads seg{rounds}, the segmentation "
    "the training loop maintained IN-LOOP — so a hash match proves the "
    "persisted table round-trips through the encoder bit-identically "
    "(the pytest round-trip property, now driver-checked through "
    "disk). Scale shape: encode DISTINCT words once (the vocabulary "
    "trick — vocab-sized, never corpus tokens; production joins the "
    "segmentation table back to the token stream by word); the merge "
    "program is a rounds-bounded chain of literal replaces, pure "
    "map-side whole-stage codegen.",
    eager=True,  # construction may train + write the merge store
)
def pipeline_bpe_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_bpe_store(spark, sf_dir)
    merges = sorted(
        (r.merge_rank, r.lhs, r.rhs)
        for r in bpe_store_read(spark, path).collect()
    )
    vocab = seed_vocab(spark, sf_dir)
    s = F.col("s")
    for _rank, a, b in merges:
        for _ in range(2):
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    pieces = F.trim(s)
    return vocab.select(
        F.col("w").alias("word"),
        F.col("freq").cast("bigint").alias("freq"),
        pieces.alias("pieces"),
        F.size(F.split(pieces, " ")).cast("bigint").alias("n_pieces"),
    )
