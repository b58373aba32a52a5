"""Text-analysis operators for a training-data pipeline, plus the
order-sensitive text set-ops from SURVEY §2.6/§2.8.

All of these run on the `documents` fixture and are native Column
expressions (no Python in the hot path): at 100 TB each is a single
codegen'd scan stage, with at most one shuffle where a groupBy/window
is semantically required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ._util import t, r4

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]
_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


def _tokens(col):
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != "")


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           round(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                                 x -> x IN ({_STOP_SQL})))::DOUBLE /
                 greatest(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')), 1), 4) AS en_ratio,
           CASE WHEN len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                                     x -> x IN ({_STOP_SQL})))::DOUBLE /
                     greatest(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')), 1) > 0.05
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM documents
    """,
    doc="Language-ID heuristic: stopword-hit ratio over whitespace tokens "
    "(n-gram-free stand-in; the lang column is ground truth for eval). "
    "Pure array expressions — one scan, zero shuffles.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged: tokenize once, derive the ratio once (flat form re-inlined
    # the split per reference — see text_quality_score for the lesson)
    toks = _tokens(F.col("text"))
    staged = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.filter(toks, lambda x: x.isin(EN_STOPWORDS))).alias("_nstop"),
        F.size(toks).alias("_ntok"),
    )
    ratio = F.col("_nstop").cast("double") / F.greatest(F.col("_ntok"), F.lit(1))
    ratios = staged.select("doc_id", "lang", ratio.alias("_ratio"))
    return ratios.select(
        "doc_id",
        "lang",
        r4(F.col("_ratio")).alias("en_ratio"),
        F.when(F.col("_ratio") > 0.05, "en").otherwise("other").alias("pred_lang"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 END, 4) AS punct_ratio,
           round(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                                 x -> x IN ({_STOP_SQL})))::DOUBLE /
                 greatest(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')), 1), 4) AS stopword_ratio,
           round(least(length(text) / 1000.0, 1.0) * 0.5 +
                 (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                        ELSE (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE / length(text)
                        END) * 0.5, 4) AS quality
    FROM documents
    """,
    doc="Document quality scoring: length, token count, punctuation ratio, "
    "stopword ratio, composite score — the C4/Gopher-style filters as one "
    "codegen stage.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # STAGED projections, not one flat select: the flat form inlined the
    # tokenizer split into every ratio and r4() triplicates its argument
    # (signum × floor-abs), so each row evaluated the split ~12× and the
    # regex ~6× — interpreted higher-order functions, no codegen CSE.
    # Staging materializes each non-cheap expression once per row;
    # Catalyst's CollapseProject keeps the stages separate exactly because
    # the aliases are non-cheap and referenced more than once. Same output
    # values, same oracle.
    txt = F.col("text")
    staged = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(txt).alias("_nc"),
        F.size(_tokens(txt)).alias("_ntok"),
        F.size(F.filter(_tokens(txt), lambda x: x.isin(EN_STOPWORDS))).alias("_nstop"),
        F.length(F.regexp_replace(txt, "[^a-zA-Z0-9 ]", "")).alias("_nclean"),
    )
    n_chars = F.col("_nc")
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        (n_chars - F.col("_nclean")).cast("double") / n_chars
    )
    stop_ratio = F.col("_nstop").cast("double") / F.greatest(F.col("_ntok"), F.lit(1))
    quality = F.least(n_chars / 1000.0, F.lit(1.0)) * 0.5 + (1.0 - punct_ratio) * 0.5
    ratios = staged.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_actual"),
        F.col("_ntok").cast("long").alias("n_tokens"),
        punct_ratio.alias("_pr"),
        stop_ratio.alias("_sr"),
        quality.alias("_q"),
    )
    return ratios.select(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        r4(F.col("_pr")).alias("punct_ratio"),
        r4(F.col("_sr")).alias("stopword_ratio"),
        r4(F.col("_q")).alias("quality"),
    )


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + a BPE-ish regex tokenizer "
    "(letters-run | digit | punct), both native regexp_extract_all.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws).cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_ish_tokens"),
    )


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id, md5(lower(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g'))) AS fingerprint
    FROM documents
    """,
    doc="Document fingerprint: md5 over alphanumeric-normalized text (the "
    "rolling-hash winnowing variant lives in operators/dedup.py minhash).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.lower(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]+", ""))
    return t(spark, sf_dir, "documents").select("doc_id", F.md5(norm).alias("fingerprint"))


@register(
    "text_winnow_fingerprint",
    oracle=r"""
    WITH grams AS (
      SELECT doc_id, i AS pos,
             min(substr(md5(substr(norm, i, 8)), 1, 8)) AS gh
      FROM (
        SELECT doc_id, lower(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g')) AS norm,
               unnest(generate_series(1, greatest(length(lower(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g'))) - 7, 1))) AS i
        FROM documents
      )
      GROUP BY doc_id, i
    ),
    winnowed AS (
      SELECT doc_id,
             min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w
      FROM grams
    )
    SELECT doc_id, count(DISTINCT w) AS n_fingerprints, min(w) AS min_fingerprint
    FROM winnowed GROUP BY doc_id
    """,
    doc="Winnowing rolling-hash fingerprint: char 8-grams over normalized "
    "text → md5-prefix hash per position → min over each 4-gram window → "
    "distinct mins are the document's fingerprints (the standard local "
    "fingerprinting scheme for plagiarism/near-dup detection). Returns "
    "per-doc fingerprint count + min; all native (sequence/substr/window), "
    "one shuffle on doc_id.",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.lower(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]+", ""))
    d = t(spark, sf_dir, "documents").select("doc_id", norm.alias("norm"))
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.greatest(F.length("norm") - 7, F.lit(1)))).alias("pos"),
        "norm",
    ).select(
        "doc_id",
        "pos",
        F.substring(F.md5(F.expr("substr(norm, pos, 8)")), 1, 8).alias("gh"),
    )
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    winnowed = grams.select("doc_id", F.min("gh").over(w).alias("w"))
    return winnowed.groupBy("doc_id").agg(
        F.countDistinct("w").alias("n_fingerprints"), F.min("w").alias("min_fingerprint")
    )


@register(
    "set_distinct_lines",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(substr(text, 1, 300), ' ')) AS line,
             generate_subscripts(string_split(substr(text, 1, 300), ' '), 1) AS pos
      FROM documents
    ), ranked AS (
      SELECT doc_id, line, pos,
             row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
      FROM toks
    )
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS deduped
    FROM ranked
    WHERE rn = 1 OR line = ''
    GROUP BY doc_id
    """,
    doc="Order-preserving de-dup of text lines, blanks kept (ref "
    "ChunkProcessor.py:240-255 unique_lines set). Spark has no row order, "
    "so 'first occurrence' is explicit: posexplode → row_number per "
    "(doc, line) by position → keep rn=1 → re-concat ordered.",
)
def set_distinct_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split(F.substring("text", 1, 300), " ")).alias("pos", "line")
    )
    w = W.partitionBy("doc_id", "line").orderBy("pos")
    kept = (
        d.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) | (F.col("line") == ""))
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos").alias("p"), F.col("line").alias("s")))),
                lambda x: x["s"],
            ),
            "\n",
        ).alias("deduped")
    )


@register(
    "chunk_fixed",
    oracle="""
    SELECT doc_id, i AS chunk_idx, substr(text, i * 150 + 1, 200) AS chunk
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest(length(text) - 1, 0) // 150)) AS i
      FROM documents
    )
    """,
    doc="Fixed-size sliding chunker (size 200, stride 150) as pure SQL — "
    "sequence+explode+substring, the scale path for chunking (ref "
    "ChunkProcessor.py:195-231 uses a recursive splitter; that "
    "langchain-parity variant is the UDF in operators/chunking.py with "
    "golden tests). One scan, no shuffle; rows fan out ~len/stride.",
)
def chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 200, 150
    n_minus1 = F.floor(F.greatest(F.length("text") - 1, F.lit(0)) / stride).cast("int")
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text", F.explode(F.sequence(F.lit(0), n_minus1)).alias("i"))
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_idx"),
            F.expr(f"substr(text, i * {stride} + 1, {size})").alias("chunk"),
        )
    )


@register(
    "ner_orgs_regex",
    oracle=r"""
    SELECT org, count(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(text, 'query ([a-z]+ [a-z]+) table', 1)) AS org
      FROM documents
    )
    GROUP BY org ORDER BY cnt DESC, org LIMIT 10
    """,
    doc="Deterministic NER stand-in (ref ChunkProcessor.py:331-334 uses "
    "spaCy ORG NER; FIXTURES.md §2.7 regex-NER): pattern-bounded entity "
    "extraction + top-10 frequency. The anchor words exist in the fixture "
    "vocabulary so the extraction genuinely fires (~40 matches at sf0.01 "
    "— an always-empty green row proves nothing). spaCy pluggable via "
    "mapInPandas behind a flag (operators/enrich.py), never on the "
    "oracle path.",
)
def ner_orgs_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    ents = F.regexp_extract_all(F.col("text"), F.lit(r"query ([a-z]+ [a-z]+) table"), 1)
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(ents).alias("org"))
        .groupBy("org")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("org"))
        .limit(10)
    )


@register(
    "fuzzy_ratio",
    oracle="""
    SELECT a.n_nationkey AS left_key, b.n_nationkey AS right_key,
           round(100.0 * (1.0 - levenshtein(lower(a.n_name), lower(b.n_name))::DOUBLE /
                 greatest(length(a.n_name), length(b.n_name), 1)), 4) AS ratio
    FROM nation a JOIN nation b ON a.n_nationkey <> b.n_nationkey
    """,
    doc="Normalized Levenshtein similarity (ref ChunkProcessor.py:63-71 "
    "rapidfuzz fuzz.ratio>85; rapidfuzz uses indel distance — we document "
    "the divergence and use classic Levenshtein, native on both engines; "
    "the exact indel variant is the pandas-UDF in functions/fuzzy.py).",
)
def fuzzy_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = t(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    ratio = 100.0 * (
        1.0
        - F.levenshtein(F.lower("a.n_name"), F.lower("b.n_name")).cast("double")
        / F.greatest(F.length("a.n_name"), F.length("b.n_name"), F.lit(1))
    )
    return (
        a.join(F.broadcast(b), F.col("a.n_nationkey") != F.col("b.n_nationkey"))
        .select(
            F.col("a.n_nationkey").alias("left_key"),
            F.col("b.n_nationkey").alias("right_key"),
            r4(ratio).alias("ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data hygiene operators: PII scrubbing, repetition filtering,
# deterministic splits, benchmark decontamination. All native expressions,
# all oracle-paired; at 100 TB each is a scan stage plus at most the one
# shuffle its semantics require.

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
_PHONE_RE = r"\(\d{3}\) ?\d{3}-\d{4}|\b\d{3}-\d{3}-\d{4}\b"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             'Contact u' || doc_id || '@mail' || (doc_id % 7) || '.com ph (555) 01'
               || (doc_id % 10) || '-4821 ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
               || ' ' || substr(text, 1, 120) AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_SSN_RE}', '<SSN>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM seeded
    """,
    doc="PII redaction (emails, SSNs, US phone numbers → typed tags), the "
    "standard pre-training hygiene pass. Inputs are seeded with synthetic "
    "PII derived from doc_id so the regexes are genuinely exercised on "
    "both engines. Pure regexp_replace chain — one codegen'd map stage, "
    "no shuffle, no Python.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    seeded = F.concat(
        F.lit("Contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com ph (555) 01"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("-4821 ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.substring("text", 1, 120),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(seeded, _EMAIL_RE, "<EMAIL>"), _SSN_RE, "<SSN>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select("doc_id", scrubbed.alias("scrubbed"))


@register(
    "text_repetition_ratio",
    oracle=r"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                                           i -> w[i] || ' ' || w[i+1])) AS g
      FROM ws WHERE len(w) >= 2
    )
    SELECT doc_id,
           round(1.0 - count(DISTINCT g)::DOUBLE / count(*), 4) AS dup_2gram_ratio
    FROM grams GROUP BY doc_id
    """,
    doc="Gopher-style repetition filter signal: fraction of word-2-grams "
    "that are duplicates within the document (0 = no repetition). "
    "explode → one groupBy(doc_id) with count + count(distinct); at "
    "100 TB the shuffle carries (doc_id, gram-hash)-sized rows only — "
    "hash the gram in the map stage if grams are long.",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    ws = _tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.concat(F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)),
    )
    exploded = d.filter(F.size(ws) >= 2).select(
        "doc_id", F.explode(grams).alias("g")
    )
    return exploded.groupBy("doc_id").agg(
        r4(1.0 - F.countDistinct("g").cast("double") / F.count("*")).alias(
            "dup_2gram_ratio"
        )
    )


@register(
    "sample_hash_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic train/val/test assignment by content-independent "
    "key hash (first md5 nibble: 12/16 train, 2/16 val, 2/16 test). The "
    "reproducible way to split 100 TB — no sampling state, no shuffle, "
    "stable under retries and re-runs, and any engine computes the same "
    "assignment (md5 is the portable currency, as in the dedup family).",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.isin("c", "d"), "val")
        .otherwise("test")
    )
    return t(spark, sf_dir, "documents").select("doc_id", split.alias("split"))


_BENCH_SENTENCE = (
    "the held out benchmark evaluation question appears verbatim in this "
    "training document and must be flagged"
)


@register(
    "contamination_ngram",
    oracle=rf"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 50 = 0 THEN ' {_BENCH_SENTENCE}' ELSE '' END AS text
      FROM documents
    ),
    ws AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM seeded
    ),
    grams AS (
      SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(w) - 7),
                                                    i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g
      FROM ws WHERE len(w) >= 8
    ),
    bw AS (
      SELECT list_filter(string_split_regex(lower('{_BENCH_SENTENCE}'), '\s+'), x -> x <> '') AS w
    ),
    bench AS (
      SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 7),
                                            i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g
      FROM bw
    )
    SELECT g.doc_id, count(*) AS n_hits
    FROM grams g JOIN bench b ON g.g = b.g
    GROUP BY g.doc_id
    """,
    doc="Benchmark decontamination screen: flag training documents sharing "
    "any 8-gram with a held-out benchmark set (a fixed benchmark sentence "
    "here; a separate table in production — every 50th fixture doc is "
    "seeded with it so the join genuinely fires). The benchmark gram set "
    "is broadcast — the 100 TB side is scanned once, map-side hash probe, "
    "one groupBy on the few contaminated (doc_id, gram) survivors.",
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 50 == 0, F.lit(" " + _BENCH_SENTENCE)).otherwise(
            F.lit("")
        ),
    )
    ws = _tokens(seeded)
    g = d.select("doc_id", ws.alias("w")).filter(F.size("w") >= 8).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 7),
                    lambda i: F.array_join(F.slice(F.col("w"), i, 8), " "),
                )
            )
        ).alias("g"),
    )
    bw = _tokens(F.lit(_BENCH_SENTENCE))
    bench = (
        spark.range(1)
        .select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(bw) - 7),
                        lambda i: F.array_join(F.slice(bw, i, 8), " "),
                    )
                )
            ).alias("g")
        )
        .distinct()
    )
    return (
        g.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@register(
    "text_unigram_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT sum(cnt) AS n FROM vocab)
    SELECT t.doc_id, round(avg(-ln(v.cnt::DOUBLE / total.n)), 4) AS avg_neg_logprob
    FROM toks t JOIN vocab v USING (tok) CROSS JOIN total
    GROUP BY t.doc_id
    """,
    doc="Corpus-unigram-LM quality proxy (the cheap stand-in for a "
    "perplexity filter, CCNet/Gopher-style): token probability is its "
    "corpus frequency, a document scores the mean of -ln p(token) over "
    "its token stream — low = repetitive/boilerplate, high = rare-token "
    "soup; both tails get culled. Two passes over the token stream: "
    "vocabulary aggregate (map-side combinable), then a frequency join "
    "back and a per-doc mean. At 100 TB the vocab table is Zipf-ish — "
    "the head fits a broadcast and AQE handles the skewed join on the "
    "long tail; the 1-row total is a broadcast cross join.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    neg_lp = -F.log(F.col("cnt").cast("double") / F.col("n"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(r4(F.avg(neg_lp)).alias("avg_neg_logprob"))
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(doc_id::VARCHAR), 1, 1) <=
          CASE WHEN lang = 'en' THEN '7' ELSE '3' END
    """,
    doc="Stratified deterministic sampling: per-language keep rates from "
    "the first md5 nibble of the key (en 8/16 = 50%, other languages "
    "4/16 = 25%) — the language-rebalancing pass a multilingual corpus "
    "mix runs. Same posture as sample_hash_split: content-independent "
    "key hash, zero state, zero shuffle (pure map stage), identical "
    "assignment on any engine and under task retries.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    rate = F.when(F.col("lang") == "en", F.lit("7")).otherwise(F.lit("3"))
    return t(spark, sf_dir, "documents").filter(nib <= rate).select("doc_id", "lang")


# GPT-2-style pre-tokenizer shape: contraction suffixes, letter runs,
# digit runs, punctuation runs (whitespace is not a token). RE2 ∩ Java
# subset — no lookarounds, identical semantics on both engines.
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9']+"
_BPE_PATTERN_SQL = _BPE_PATTERN.replace("'", "''")


@register(
    "text_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN_SQL}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
    doc="BPE-ish token counting: a GPT-2-style pre-tokenizer regex "
    "(contraction suffixes / letter runs / digit runs / punctuation "
    "runs) counted next to the whitespace count — the budgeting number "
    "a training pipeline actually needs (whitespace undercounts "
    "punctuation-heavy text). Pure map stage, one regexp_extract_all "
    "per row, no shuffle.",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are the
# maximal stopword-free token runs; word score = degree/frequency over the
# candidate corpus; phrase score = sum of member word scores.

RAKE_STOP = (
    "the", "of", "and", "to", "a", "in", "is", "for", "on", "with", "as",
    "by", "at", "an", "be", "are", "that", "this", "it", "or", "from",
)
RAKE_TOPK = 20
_RAKE_STOP_IN = ", ".join(f"'{w}'" for w in RAKE_STOP)


@register(
    "text_keyphrase_rake",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
        FROM documents
      )
    ),
    marked AS (
      SELECT doc_id, pos, w, (w IN ({_RAKE_STOP_IN})) AS is_stop,
             sum(CASE WHEN w IN ({_RAKE_STOP_IN}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS pid
      FROM tok
    ),
    ptok AS (SELECT doc_id, pid, pos, w FROM marked WHERE NOT is_stop),
    plen AS (SELECT doc_id, pid, count(*) AS plen FROM ptok GROUP BY doc_id, pid),
    wstat AS (
      SELECT w, count(*) AS freq, sum(plen) AS degree
      FROM ptok JOIN plen USING (doc_id, pid) GROUP BY w
    ),
    pscore AS (
      SELECT t.doc_id, t.pid,
             sum(s.degree::DOUBLE / s.freq) AS score
      FROM ptok t JOIN wstat s USING (w) GROUP BY t.doc_id, t.pid
    ),
    ptext AS (
      SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase
      FROM ptok GROUP BY doc_id, pid
    )
    SELECT doc_id, phrase, round(score, 4) AS score FROM (
      SELECT p.doc_id, x.phrase, p.score,
             row_number() OVER (ORDER BY round(p.score, 4) DESC, p.doc_id, x.phrase) AS rn
      FROM pscore p JOIN ptext x USING (doc_id, pid)
    ) WHERE rn <= {RAKE_TOPK}
    """,
    doc=f"RAKE keyphrase extraction: candidate phrases = maximal "
    f"stopword-free token runs (gaps-and-islands: the phrase id is the "
    "running stopword count), word score = degree/frequency over the "
    "candidate corpus, phrase score = sum of member word scores; global "
    f"top-{RAKE_TOPK}. Every stage is relational: one tokenize pass, a "
    "per-doc cumsum window (doc-partitioned), two corpus aggregates on "
    "(doc, phrase) and word keys, and a TakeOrdered final — no UDF, no "
    "driver-side text. Shuffles carry tokens and ids, never documents; "
    "at 100 TB the word-stat table is vocabulary-sized and "
    "broadcastable.",
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    is_stop = F.col("w").isin(*RAKE_STOP)
    wdoc = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    marked = tok.select(
        "doc_id",
        "pos",
        "w",
        is_stop.alias("is_stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(wdoc).alias("pid"),
    )
    ptok = marked.filter(~F.col("is_stop")).select("doc_id", "pid", "pos", "w")
    plen = ptok.groupBy("doc_id", "pid").agg(F.count("*").alias("plen"))
    wstat = (
        ptok.join(plen, ["doc_id", "pid"])
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("degree"))
    )
    pscore = (
        ptok.join(F.broadcast(wstat), "w")
        .groupBy("doc_id", "pid")
        .agg(F.sum(F.col("degree").cast("double") / F.col("freq")).alias("score"))
    )
    ptext = (
        ptok.groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase")
        )
    )
    return (
        pscore.join(ptext, ["doc_id", "pid"])
        .select("doc_id", "phrase", r4(F.col("score")).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("phrase"))
        .limit(RAKE_TOPK)
    )


@register(
    "text_c4_line_filter",
    oracle=r"""
    WITH lines AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)),
                         l -> len(list_filter(string_split_regex(trim(l), '\s+'), x -> x <> '')) >= 3
                              AND (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
                                   OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
                              AND NOT contains(lower(l), 'lorem ipsum')
                              AND NOT contains(l, '{')) AS kept,
             len(string_split(text, chr(10))) AS n_lines
      FROM documents
    )
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           -- DuckDB's array_to_string returns NULL for an empty list;
           -- Spark's array_join returns '' — align on ''
           coalesce(array_to_string(kept, chr(10)), '') AS cleaned
    FROM lines
    """,
    doc="C4-style line-level cleaning: keep only lines with ≥3 words that "
    "end in terminal punctuation and contain neither 'lorem ipsum' nor a "
    "curly brace, then rebuild the document from the survivors — the "
    "line-filter half of the C4 recipe (the page-level half is "
    "text_gopher_rules' family). Pure map stage: split, higher-order "
    "list filter, re-join — no shuffle, no UDF, whole-stage codegen; "
    "composes into any curation scan for free at 100 TB.",
)
def text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    nl = "\n"
    words = lambda l: F.size(
        F.filter(F.split(F.trim(l), r"\s+"), lambda x: x != "")
    )
    keep = lambda l: (
        (words(l) >= 3)
        & (
            F.endswith(F.trim(l), F.lit("."))
            | F.endswith(F.trim(l), F.lit("!"))
            | F.endswith(F.trim(l), F.lit("?"))
            | F.endswith(F.trim(l), F.lit('"'))
        )
        & ~F.contains(F.lower(l), F.lit("lorem ipsum"))
        & ~F.contains(l, F.lit("{"))
    )
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", nl).alias("ls"),
    )
    kept = F.filter(F.col("ls"), keep)
    return d.select(
        "doc_id",
        F.size("ls").cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, nl).alias("cleaned"),
    )


@register(
    "text_code_quality_rules",
    oracle=r"""
    WITH lines AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls, length(text) AS n
      FROM documents
    ),
    stats AS (
      SELECT doc_id, n,
             len(ls) AS n_lines,
             list_max(list_transform(ls, l -> length(l))) AS max_line_len,
             round(length(array_to_string(ls, ''))::DOUBLE / greatest(len(ls), 1), 4) AS mean_line_len,
             round(length(regexp_replace(array_to_string(ls, ''), '[^a-zA-Z0-9]', '', 'g'))::DOUBLE
                   / greatest(length(array_to_string(ls, '')), 1), 4) AS alnum_frac
      FROM lines
    )
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(max_line_len AS BIGINT) AS max_line_len,
           mean_line_len, alnum_frac,
           (mean_line_len < 100 AND max_line_len < 1000 AND alnum_frac > 0.25) AS passes
    FROM stats
    """,
    doc="The-Stack-style code-quality gate: mean line length < 100, max "
    "line length < 1000, alphanumeric fraction > 0.25 — the three rules "
    "that drop minified/generated/binary-ish files from a code corpus. "
    "Like text_gopher_rules this is one codegen'd scan: split once, "
    "higher-order transforms for the per-line stats, boolean verdict — "
    "no shuffle, no UDF.",
)
def text_code_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    nl = "\n"
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", nl).alias("ls")
    )
    joined = F.array_join(F.col("ls"), "")
    mean_len = r4(
        F.length(joined).cast("double") / F.greatest(F.size("ls"), F.lit(1))
    )
    alnum = r4(
        F.length(F.regexp_replace(joined, "[^a-zA-Z0-9]", "")).cast("double")
        / F.greatest(F.length(joined), F.lit(1))
    )
    max_len = F.array_max(F.transform(F.col("ls"), lambda l: F.length(l)))
    out = d.select(
        "doc_id",
        F.size("ls").cast("bigint").alias("n_lines"),
        max_len.cast("bigint").alias("max_line_len"),
        mean_len.alias("mean_line_len"),
        alnum.alias("alnum_frac"),
    )
    return out.withColumn(
        "passes",
        (F.col("mean_line_len") < 100)
        & (F.col("max_line_len") < 1000)
        & (F.col("alnum_frac") > 0.25),
    )


@register(
    "text_readability_fk",
    oracle=r"""
    WITH parts AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws,
             len(list_filter(string_split_regex(text, '[.!?]+'),
                             s -> trim(s) <> '')) AS n_sents
      FROM documents
    ),
    counted AS (
      SELECT doc_id,
             len(ws) AS n_words,
             greatest(n_sents, 1) AS n_sents,
             list_sum(list_transform(ws,
               w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS n_syll
      FROM parts
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_syll AS BIGINT) AS n_syllables,
           round(0.39::DOUBLE * n_words / n_sents
                 + 11.8::DOUBLE * n_syll / greatest(n_words, 1)
                 - 15.59::DOUBLE, 4) AS fk_grade
    FROM counted
    """,
    doc="Flesch-Kincaid grade level per document: sentences split on "
    "terminal-punctuation runs, syllables approximated as vowel-group "
    "runs per word (the standard heuristic, min 1/word), grade = "
    "0.39·(words/sentences) + 11.8·(syllables/words) − 15.59 — the "
    "readability feature quality-filter stacks use alongside the Gopher "
    "rules. Pure map stage: two splits + a higher-order transform/sum, "
    "no shuffle, no UDF.",
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ws = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    sents = F.size(
        F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")
    )
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        ws.alias("ws"),
        F.greatest(sents, F.lit(1)).alias("n_sents"),
    )
    syll = F.aggregate(
        F.transform(
            F.col("ws"),
            lambda w: F.greatest(
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
                F.lit(1),
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    counted = d.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_words"),
        F.col("n_sents").cast("bigint").alias("n_sents"),
        syll.alias("n_syllables"),
    )
    grade = (
        0.39 * F.col("n_words") / F.col("n_sents")
        + 11.8 * F.col("n_syllables") / F.greatest(F.col("n_words"), F.lit(1))
        - 15.59
    )
    return counted.select(
        "doc_id", "n_words", "n_sents", "n_syllables", r4(grade).alias("fk_grade")
    )


@register(
    "eval_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                                       x -> x IN ({_STOP_SQL})))::DOUBLE /
                       greatest(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')), 1) > 0.05
                  THEN 'en' ELSE 'other' END AS pred_lang
      FROM documents
    ),
    tot AS (SELECT count(*)::DOUBLE AS n FROM pred)
    SELECT p.lang, p.pred_lang, count(*) AS n_docs,
           round(count(*) / t.n, 4) AS share
    FROM pred p CROSS JOIN tot t
    GROUP BY p.lang, p.pred_lang, t.n
    """,
    doc="Evaluation of the lang-ID heuristic against the fixture's "
    "ground-truth lang column: the (true, predicted) confusion matrix "
    "with corpus shares — the eval-family member for text_lang_id "
    "(recall/precision per language read straight off the rows). One "
    "scan producing predictions + one tiny grouped aggregate; the "
    "classifier under test and its evaluation share a plan, so the "
    "measured model is exactly the deployed one.",
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_queries import text_lang_id  # self-module: direct call

    pred = text_lang_id(spark, sf_dir).select("lang", "pred_lang")
    tot = pred.agg(F.count("*").cast("double").alias("n"))
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            r4(F.col("n_docs") / F.col("n")).alias("share"),
        )
    )


@register(
    "agg_benford_digit_profile",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM events WHERE value >= 1
    ),
    tot AS (SELECT count(*)::DOUBLE AS n FROM digits)
    SELECT d AS digit, count(*) AS n,
           round(count(*) / t.n, 4) AS observed,
           round(ln(1.0 + 1.0 / d) / ln(10.0), 4) AS benford_expected,
           round(abs(count(*) / t.n - ln(1.0 + 1.0 / d) / ln(10.0)), 4) AS abs_dev
    FROM digits CROSS JOIN tot t
    GROUP BY d, t.n
    """,
    doc="Benford first-digit audit: the leading-digit distribution of "
    "event values against Benford's law (P(d) = log10(1 + 1/d)) with "
    "per-digit absolute deviation — the forensic-accounting screen for "
    "fabricated or truncated numeric columns, and a data-quality "
    "fingerprint for value distributions. Map-side digit extraction + "
    "a 9-key aggregate; the deviation column is what an alerting rule "
    "thresholds.",
)
def agg_benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("value") >= 1)
        .select(
            F.substring(
                F.floor("value").cast("bigint").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("digit")
        )
    )
    tot = d.agg(F.count("*").cast("double").alias("n"))
    expected = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("n_digit"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n_digit").alias("n"),
            r4(F.col("n_digit") / F.col("n")).alias("observed"),
            r4(expected).alias("benford_expected"),
            r4(F.abs(F.col("n_digit") / F.col("n") - expected)).alias("abs_dev"),
        )
    )


BOILERPLATE_SHARE = 0.5


@register(
    "text_boilerplate_lines",
    oracle=f"""
    WITH seeded AS (
      -- the synthetic corpus shares no exact lines; seed a per-source
      -- template header on half the docs (contamination_ngram discipline)
      -- so the detection path is exercised, not vacuously empty
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 0
                  THEN 'NAV HOME | ABOUT | ' || upper(source) || chr(10) || text
                  ELSE text END AS text
      FROM documents
    ),
    doc_lines AS (
      SELECT DISTINCT doc_id, source, trim(l) AS line
      FROM (
        SELECT doc_id, source, unnest(string_split(text, chr(10))) AS l
        FROM seeded
      ) WHERE trim(l) <> ''
    ),
    per_source AS (
      SELECT source, count(DISTINCT doc_id) AS n_docs FROM doc_lines GROUP BY source
    ),
    line_counts AS (
      SELECT source, line, count(*) AS n_with FROM doc_lines GROUP BY source, line
    )
    SELECT c.source, c.line,
           CAST(c.n_with AS BIGINT) AS n_docs_with,
           round(c.n_with::DOUBLE / p.n_docs, 4) AS share
    FROM line_counts c JOIN per_source p USING (source)
    WHERE c.n_with::DOUBLE / p.n_docs >= {BOILERPLATE_SHARE} AND p.n_docs >= 4
    """,
    doc="Template-boilerplate detection: lines appearing (as exact trimmed "
    f"text) in ≥{int(BOILERPLATE_SHARE * 100)}% of a source's documents — "
    "the per-site navigation/footer templates a crawl cleaner strips "
    "BEFORE dedup (dedup_paragraph removes cross-doc repeats one pair at "
    "a time; this finds the systematic per-source templates in one "
    "aggregate). Per-doc DISTINCT lines map-side, then one (source, "
    "line) count against per-source doc totals; the shuffle carries "
    "distinct lines, never documents.",
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeded_text = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("NAV HOME | ABOUT | "), F.upper("source"), F.lit("\n"), F.col("text")
        ),
    ).otherwise(F.col("text"))
    doc_lines = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.explode(F.split(seeded_text, "\n")).alias("l"),
        )
        .select("doc_id", "source", F.trim("l").alias("line"))
        .filter(F.col("line") != "")
        .distinct()
    )
    per_source = doc_lines.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    line_counts = doc_lines.groupBy("source", "line").agg(
        F.count("*").alias("n_with")
    )
    share = F.col("n_with").cast("double") / F.col("n_docs")
    return (
        line_counts.join(F.broadcast(per_source), "source")
        .filter((share >= BOILERPLATE_SHARE) & (F.col("n_docs") >= 4))
        .select(
            "source",
            "line",
            F.col("n_with").cast("bigint").alias("n_docs_with"),
            r4(share).alias("share"),
        )
    )


@register(
    "str_split_identifiers",
    oracle=r"""
    WITH ids AS (
      SELECT doc_id,
             'doc' || CAST(doc_id AS VARCHAR) || 'Source_' || source || '_v2' AS ident
      FROM documents
    )
    SELECT doc_id, ident,
           coalesce(array_to_string(
             list_transform(
               regexp_extract_all(
                 regexp_replace(ident, '([a-z0-9])([A-Z])', '\1_\2', 'g'),
                 '[A-Za-z0-9]+'),
               x -> lower(x)), ' '), '') AS subtokens
    FROM ids
    """,
    doc="Identifier tokenization for code corpora: camelCase boundaries "
    "become underscores, then alnum runs split and lowercase — the "
    "subtoken normalization code-search and code-LM pipelines apply to "
    "symbol names (pairs with text_code_quality_rules for The-Stack-"
    "style preprocessing). Identifiers are derived deterministically "
    "from fixture columns so both engines transform the identical "
    "input; two regexes + a higher-order lowercase, one codegen'd scan. "
    "Subtokens emit space-joined (scalar column) so the driver's "
    "pandas-sort canonicalizer can hash the output — the same r5 "
    "vector_pca_project lesson, caught by the r6 full-registry "
    "output-schema audit before the driver reached this key.",
)
def str_split_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ident = F.concat(
        F.lit("doc"),
        F.col("doc_id").cast("string"),
        F.lit("Source_"),
        F.col("source"),
        F.lit("_v2"),
    )
    snake = F.regexp_replace(ident, r"([a-z0-9])([A-Z])", r"$1_$2")
    subtokens = F.transform(
        F.regexp_extract_all(snake, F.lit("[A-Za-z0-9]+"), F.lit(0)),
        lambda x: F.lower(x),
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        ident.alias("ident"),
        F.array_join(subtokens, " ").alias("subtokens"),
    )


LANGID_PROFILE_K = 50  # trigrams kept per language profile


@register(
    "text_langid_trained",
    oracle=f"""
    WITH tri AS (
      SELECT doc_id, lang, doc_id % 2 AS split,
             unnest(CASE WHEN length(lower(text)) >= 3
                         THEN list_transform(generate_series(1, length(lower(text)) - 2),
                                             i -> substr(lower(text), i, 3))
                         ELSE [] END) AS g
      FROM documents
    ),
    profile AS (
      SELECT lang, g FROM (
        SELECT lang, g, count(*) AS n,
               row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
        FROM tri WHERE split = 0 GROUP BY lang, g
      ) WHERE rn <= {LANGID_PROFILE_K}
    ),
    test AS (
      SELECT DISTINCT doc_id, lang, g FROM tri WHERE split = 1
    ),
    overlap AS (
      SELECT t.doc_id, t.lang AS true_lang, p.lang AS cand_lang, count(*) AS hits
      FROM test t JOIN profile p ON p.g = t.g
      GROUP BY t.doc_id, t.lang, p.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, cand_lang AS pred_lang FROM (
        SELECT doc_id, true_lang, cand_lang,
               row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
        FROM overlap
      ) WHERE rn = 1
    )
    SELECT true_lang AS lang,
           count(*) AS n_docs,
           CAST(count(CASE WHEN pred_lang = true_lang THEN 1 END) AS BIGINT) AS n_correct,
           round(count(CASE WHEN pred_lang = true_lang THEN 1 END)::DOUBLE
                 / count(*), 4) AS accuracy
    FROM pred GROUP BY true_lang
    """,
    doc=f"TRAINED language identification: per-language profiles of the "
    f"top-{LANGID_PROFILE_K} character trigrams are induced from the "
    "doc_id%2=0 training half, held-out docs are classified by profile-"
    "overlap argmax (ties to the alphabetically first language), and "
    "per-language accuracy comes out of the same plan — the "
    "textcat/CLD-style upgrade over text_lang_id's stopword heuristic, "
    "trained, applied, and evaluated in one declarative pipeline. "
    "Scale shape: profiles are |langs|×K rows (broadcast); the test "
    "side joins DISTINCT doc trigrams against them, so the shuffle "
    "carries (doc, trigram-hit) pairs bounded by K×|langs| per doc.",
)
def text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    lowered = F.lower(F.col("text"))
    # substring over a sequence of positions: SQL-expression form (the
    # Python F.substring signature takes int literals only)
    tri_arr = F.when(
        F.length(lowered) >= 3,
        F.expr(
            "transform(sequence(1, length(lower(text)) - 2), "
            "i -> substring(lower(text), i, 3))"
        ),
    ).otherwise(F.array())
    tri = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 2).alias("split"),
        F.explode(tri_arr).alias("g"),
    )
    wp = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("g"))
    profile = (
        tri.filter(F.col("split") == 0)
        .groupBy("lang", "g")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= LANGID_PROFILE_K)
        .select(F.col("lang").alias("cand_lang"), "g")
    )
    test = (
        tri.filter(F.col("split") == 1)
        .select("doc_id", F.col("lang").alias("true_lang"), "g")
        .distinct()
    )
    overlap = test.join(F.broadcast(profile), "g").groupBy(
        "doc_id", "true_lang", "cand_lang"
    ).agg(F.count("*").alias("hits"))
    wd = W.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    pred = (
        overlap.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("cand_lang").alias("pred_lang"))
    )
    correct = F.count(F.when(F.col("pred_lang") == F.col("true_lang"), 1))
    return pred.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count("*").alias("n_docs"),
        correct.cast("bigint").alias("n_correct"),
        r4(correct.cast("double") / F.count("*")).alias("accuracy"),
    )


LM_LAMBDA = 0.8  # bigram weight; (1-λ) backs off to the unigram


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    uni AS (
      SELECT unnest(w) AS t FROM ws
    ),
    uc AS (SELECT t, count(*) AS n FROM uni GROUP BY t),
    utot AS (SELECT sum(n)::DOUBLE AS total FROM uc),
    bi AS (
      SELECT unnest(CASE WHEN len(w) >= 2
                         THEN list_transform(generate_series(1, len(w) - 1),
                                             i -> [w[i], w[i + 1]])
                         ELSE [] END) AS pair
      FROM ws
    ),
    bc AS (SELECT pair[1] AS w1, pair[2] AS w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
    doc_bi AS (
      SELECT doc_id, pair[1] AS w1, pair[2] AS w2
      FROM (
        SELECT doc_id, unnest(CASE WHEN len(w) >= 2
                                   THEN list_transform(generate_series(1, len(w) - 1),
                                                       i -> [w[i], w[i + 1]])
                                   ELSE [] END) AS pair
        FROM ws
      )
    ),
    scored AS (
      SELECT d.doc_id,
             ln({LM_LAMBDA} * coalesce(b.n12, 0)::DOUBLE / u1.n
                + {round(1 - LM_LAMBDA, 10)} * u2.n / t.total) AS lp
      FROM doc_bi d
      JOIN uc u1 ON u1.t = d.w1
      JOIN uc u2 ON u2.t = d.w2
      LEFT JOIN bc b ON b.w1 = d.w1 AND b.w2 = d.w2
      CROSS JOIN utot t
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(lp), 4) AS mean_logprob
    FROM scored GROUP BY doc_id
    """,
    doc=f"Interpolated bigram LM scoring: per-bigram log of "
    f"λ·P(w2|w1) + (1−λ)·P(w2) with λ={LM_LAMBDA} (Jelinek-Mercer "
    "smoothing — unseen bigrams back off to the unigram instead of "
    "−∞), averaged per document — the second-order fluency signal one "
    "step above text_unigram_logprob, the CCNet-style quality scorer's "
    "natural upgrade. The bigram and unigram count tables are "
    "vocabulary-sized and join against the document bigram stream; "
    "every join is on token keys, never text.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    ws = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    pair_arr = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"), F.element_at(ws, i + 1).alias("w2")
            ),
        ),
    ).otherwise(F.array())
    docs = t(spark, sf_dir, "documents")
    uni = docs.select(F.explode(ws).alias("t"))
    uc = uni.groupBy("t").agg(F.count("*").alias("n"))
    utot = uc.agg(F.sum("n").cast("double").alias("total"))
    doc_bi = docs.select("doc_id", F.explode(pair_arr).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bc = doc_bi.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    lp = F.log(
        LM_LAMBDA * F.coalesce(F.col("n12"), F.lit(0)).cast("double") / F.col("n1")
        + (1 - LM_LAMBDA) * F.col("n2") / F.col("total")
    )
    scored = (
        doc_bi.join(
            F.broadcast(uc.select(F.col("t").alias("w1"), F.col("n").alias("n1"))), "w1"
        )
        .join(
            F.broadcast(uc.select(F.col("t").alias("w2"), F.col("n").alias("n2"))), "w2"
        )
        .join(bc, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(utot))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), r4(F.avg("lp")).alias("mean_logprob")
    )


@register(
    "eval_langid_auc",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             (lang = 'en') AS label,
             len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                             x -> x IN ({_STOP_SQL})))::DOUBLE /
               greatest(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')), 1) AS score
      FROM documents
    ),
    ranked AS (
      SELECT label,
             rank() OVER (ORDER BY score)
               + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS midrank
      FROM scored
    ),
    sums AS (
      SELECT sum(CASE WHEN label THEN midrank END) AS rpos,
             count(CASE WHEN label THEN 1 END)::DOUBLE AS np,
             count(CASE WHEN NOT label THEN 1 END)::DOUBLE AS nn
      FROM ranked
    )
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           round((rpos - np * (np + 1) / 2) / (np * nn), 4) AS auc
    FROM sums
    """,
    doc="AUC-ROC of the stopword-ratio language score against the "
    "ground-truth en label, via the Mann-Whitney rank-sum with MIDRANKS "
    "for ties (rank() plus half the tie-group size — the exact tie-"
    "corrected AUC, not the optimistic/pessimistic variants) — the "
    "threshold-free headline metric completing the classifier-eval "
    "family (eval_langid_confusion is the thresholded view). Scale: the "
    "rank-sum needs only per-DISTINCT-SCORE tie counts — group by score, "
    "two-phase-cumulate the counts (_util.global_cumsum), and each tie "
    "group's midrank is cum-count algebra: rank_first = cum-cnt+1, "
    "midrank = rank_first+(cnt-1)/2, contributing pos*midrank to the "
    "rank-sum (a product of exactly-representable halves — bit-equal to "
    "the per-row sum). No coalesce(1), no global window: either would "
    "funnel every distinct score through one task.",
    eager=True,  # construction runs the range-partition exchange
)
def eval_langid_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import global_cumsum

    toks = _tokens(F.col("text"))
    scored = t(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").alias("label"),
        (
            F.size(F.filter(toks, lambda x: x.isin(EN_STOPWORDS))).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("score"),
    )
    g = scored.groupBy("score").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("label").cast("long")).alias("pos"),
    )
    cum = global_cumsum(g, ["score"], ["cnt"])
    midrank = (
        (F.col("cum_cnt") - F.col("cnt") + 1) + (F.col("cnt") - 1) / 2.0
    )
    sums = cum.agg(
        F.sum(F.col("pos") * midrank).alias("rpos"),
        # coalesce: empty corpus → counts of 0 (as the count() form gave)
        F.coalesce(F.sum("pos"), F.lit(0)).cast("double").alias("np"),
        F.coalesce(F.sum(F.col("cnt") - F.col("pos")), F.lit(0))
        .cast("double")
        .alias("nn"),
    )
    return sums.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        r4(
            (F.col("rpos") - F.col("np") * (F.col("np") + 1) / 2)
            / (F.col("np") * F.col("nn"))
        ).alias("auc"),
    )


SUMMARY_K = 2  # sentences kept per document


@register(
    "text_extractive_summary",
    oracle=rf"""
    WITH sents AS (
      SELECT doc_id, trim(s) AS sent,
             generate_subscripts(string_split_regex(text, '[.!?]+'), 1) AS pos
      FROM (
        SELECT doc_id, text, unnest(string_split_regex(text, '[.!?]+')) AS s
        FROM documents
      ) WHERE trim(s) <> ''
    ),
    words AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
      FROM documents
    ),
    tf AS (SELECT w, count(*) AS n FROM words GROUP BY w),
    scored AS (
      SELECT s.doc_id, s.sent, s.pos,
             sum(t.n) / greatest(len(list_filter(string_split_regex(lower(s.sent), '\s+'), x -> x <> '')), 1) AS score
      FROM sents s,
           LATERAL (SELECT unnest(list_filter(string_split_regex(lower(s.sent), '\s+'), x -> x <> '')) AS w) sw
      JOIN tf t ON t.w = sw.w
      GROUP BY s.doc_id, s.sent, s.pos
    )
    SELECT doc_id, sent_rank, sent FROM (
      SELECT doc_id, sent,
             row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 4) DESC, pos) AS sent_rank
      FROM scored
    ) WHERE sent_rank <= {SUMMARY_K}
    """,
    doc=f"Extractive summarization: each document's top-{SUMMARY_K} "
    "sentences by mean corpus term frequency of their words (the "
    "Luhn-style significance baseline every fancier summarizer is "
    "benchmarked against), ties broken by sentence position. The "
    "corpus TF table is vocabulary-sized and joins the exploded "
    "sentence words; the per-doc rank window runs over sentences, "
    "not tokens.",
)
def text_extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sents = (
        docs.select("doc_id", F.posexplode(F.split("text", r"[.!?]+")).alias("pos0", "s"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), F.trim("s").alias("sent"))
        .filter(F.col("sent") != "")
    )
    words = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("w")
    )
    tf = words.groupBy("w").agg(F.count("*").alias("n"))
    sent_words = sents.select(
        "doc_id",
        "pos",
        "sent",
        F.explode(
            F.filter(F.split(F.lower("sent"), r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    nw = F.greatest(
        F.size(F.filter(F.split(F.lower("sent"), r"\s+"), lambda x: x != "")), F.lit(1)
    )
    scored = (
        sent_words.join(F.broadcast(tf), "w")
        .groupBy("doc_id", "sent", "pos")
        .agg((F.sum("n") / nw).alias("score"))
    )
    w_rank = W.partitionBy("doc_id").orderBy(r4(F.col("score")).desc(), F.asc("pos"))
    return (
        scored.withColumn("sent_rank", F.row_number().over(w_rank))
        .filter(F.col("sent_rank") <= SUMMARY_K)
        .select("doc_id", F.col("sent_rank").cast("bigint").alias("sent_rank"), "sent")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility + context-window budgeting: the two numbers a
# training pipeline reads before fixing max_seq_len and the token budget.

CONTEXT_LENGTHS = (512, 2048, 8192)


@register(
    "eval_tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(len(regexp_extract_all(text, '{_BPE_PATTERN_SQL}'))) AS DOUBLE)
                 / sum(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))),
                 4) AS fertility,
           round(CAST(sum(length(text)) AS DOUBLE)
                 / sum(len(regexp_extract_all(text, '{_BPE_PATTERN_SQL}'))),
                 4) AS bytes_per_token
    FROM documents
    GROUP BY lang
    """,
    doc="Tokenizer fertility per language: BPE-ish tokens per whitespace "
    "word (the standard multilingual-tokenizer efficiency metric — "
    "fertility >> 1 means the tokenizer fragments that language and its "
    "effective context shrinks) plus chars per token. One map-side "
    "tokenize feeding a partial-aggregated groupBy on lang — the shuffle "
    "carries |langs| partial sums, never text. Same pre-tokenizer "
    "expression as text_token_count_bpe.",
)
def eval_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    nb = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
    nw = F.size(_tokens(F.col("text")))
    return (
        t(spark, sf_dir, "documents")
        .select("lang", nb.alias("nb"), nw.alias("nw"), F.length("text").alias("nc"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            r4(F.sum("nb").cast("double") / F.sum("nw")).alias("fertility"),
            r4(F.sum("nc").cast("double") / F.sum("nb")).alias("bytes_per_token"),
        )
    )


@register(
    "agg_context_window_share",
    oracle=f"""
    WITH n AS (
      SELECT source,
             len(regexp_extract_all(text, '{_BPE_PATTERN_SQL}')) AS nt
      FROM documents
    ),
    l AS (SELECT unnest([{', '.join(str(x) for x in CONTEXT_LENGTHS)}]) AS max_len)
    SELECT source,
           CAST(max_len AS BIGINT) AS max_len,
           CAST(sum(CASE WHEN nt <= max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_fit,
           round(avg(CASE WHEN nt <= max_len THEN 1.0 ELSE 0.0 END), 4) AS fit_share,
           round(CAST(sum(least(nt, max_len)) AS DOUBLE) / sum(nt), 4) AS token_retention
    FROM n CROSS JOIN l
    GROUP BY source, max_len
    """,
    doc="Context-window budgeting per source: for each candidate "
    "max_seq_len, the share of documents that fit whole and the share "
    "of tokens retained under truncation — the table that decides "
    "whether a corpus needs 2k, 4k or 8k packing. Map-side tokenize, "
    "3x row fan-out over the candidate lengths (constant), one "
    "partial-aggregated shuffle on (source, max_len).",
)
def agg_context_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nt = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
    lens = F.array(*[F.lit(x) for x in CONTEXT_LENGTHS])
    return (
        t(spark, sf_dir, "documents")
        .select("source", nt.alias("nt"), F.explode(lens).alias("max_len"))
        .groupBy("source", F.col("max_len").cast("bigint").alias("max_len"))
        .agg(
            F.sum((F.col("nt") <= F.col("max_len")).cast("int"))
            .cast("bigint")
            .alias("n_docs_fit"),
            r4(F.avg((F.col("nt") <= F.col("max_len")).cast("double"))).alias(
                "fit_share"
            ),
            r4(
                F.sum(F.least(F.col("nt"), F.col("max_len"))).cast("double")
                / F.sum("nt")
            ).alias("token_retention"),
        )
    )
