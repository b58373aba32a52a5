"""Relational operators (SURVEY §2.2, §2.3, §2.4, §2.5, §2.6).

Each query is the SURVEY-keyed capability expressed over the synthetic
fixture tables, with a DuckDB oracle twin. Scale notes are inline: what
shuffles, what broadcasts, what AQE handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ._util import t, r4, date_str

# ---------------------------------------------------------------------------
# §2.2 projections / filters


@register(
    "project_cols",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    doc="Positional projection (ref config.py:25-27). Column pruning reaches "
    "the parquet scan — ReadSchema lists exactly these three columns.",
)
def project_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "filter_index_range",
    oracle="SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey BETWEEN 100 AND 500",
    doc="Range scan over the key (ref CrawlerHandler.py:60-87). Pushed filter "
    "on the parquet scan → row-group pruning via min/max stats at scale.",
)
def filter_index_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").between(100, 500))
        .select("o_orderkey", "o_orderstatus")
    )


@register(
    "filter_token_floor",
    oracle="SELECT doc_id, n_chars FROM documents WHERE n_chars >= 300",
    doc="Numeric threshold filter (ref Processor.py:342-345, prompt-token "
    "floor). Pushed to the scan.",
)
def filter_token_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 300)
        .select("doc_id", "n_chars")
    )


@register(
    "filter_company_presence",
    oracle=r"""
    SELECT doc_id FROM documents
    WHERE regexp_matches(lower(substr(text, 1, 11000)), '\bdata\b')
      AND regexp_matches(lower(substr(text, 1, 11000)), '\bspark\b')
    """,
    doc="Both names present as word-boundary matches in the 11k-char header "
    "prefix (ref Processor.py:154-187). substring caps regex work per row; "
    "at 100 TB the substring+rlike runs inside one codegen stage, no shuffle.",
)
def filter_company_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = F.lower(F.substring(F.col("text"), 1, 11000))
    return (
        t(spark, sf_dir, "documents")
        .filter(prefix.rlike(r"\bdata\b") & prefix.rlike(r"\bspark\b"))
        .select("doc_id")
    )


@register(
    "filter_hyphen_retry",
    oracle=r"""
    SELECT doc_id FROM documents
    WHERE regexp_matches(lower(text), '\bbig-table\b')
       OR regexp_matches(lower(replace(text, '-', ' ')), '\bbig table\b')
    """,
    doc="Hyphen→space fallback predicate, set-oriented: OR of both predicate "
    "forms replaces the reference's two-pass retry (ref CrawlerSupport.py:424-430).",
)
def filter_hyphen_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    low = F.lower(F.col("text"))
    return (
        t(spark, sf_dir, "documents")
        .filter(
            low.rlike(r"\bbig-table\b")
            | F.regexp_replace(low, "-", " ").rlike(r"\bbig table\b")
        )
        .select("doc_id")
    )


@register(
    "filter_skip_terms",
    oracle=r"""
    SELECT doc_id FROM documents
    WHERE NOT regexp_matches(lower(text), 'amended|restated|schedule to|incorporated by reference')
    """,
    doc="Stop-phrase rejection (ref ChunkProcessor.py:40,50-52).",
)
def filter_skip_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .filter(~F.lower(F.col("text")).rlike("amended|restated|schedule to|incorporated by reference"))
        .select("doc_id")
    )


@register(
    "filter_min_length",
    oracle="SELECT doc_id, length(text) AS text_len FROM documents WHERE length(text) > 200",
    doc="Length floor on extracted passages (ref ChunkProcessor.py:165-169).",
)
def filter_min_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .withColumn("text_len", F.length("text").cast("long"))
        .filter(F.col("text_len") > 200)
        .select("doc_id", "text_len")
    )


# ---------------------------------------------------------------------------
# §2.3 joins


@register(
    "join_anti_incremental",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderkey % 7 = 0)
    """,
    doc="Incremental-processing anti join: todo = all ⟕̸ done (ref "
    "CrawlerSupport.py:373-379 exists-check, re-expressed set-oriented). "
    "The done-set is a deterministic subset of orders so the survivor "
    "side is non-trivial on the fixtures (every customer has SOME order, "
    "so an unrestricted done-set gives an always-empty result — a green "
    "row that proves nothing). At scale: shuffled hash anti-join on the "
    "key; AQE turns it into a broadcast anti-join when `done` is small.",
)
def join_anti_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    done = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("o_custkey")
    )
    return customer.join(
        done, customer.c_custkey == done.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_deal_filing",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="1:N equi join deals→filings (ref CrawlerSupport.py:396-418). "
    "Catalyst picks broadcast for the small side; at 100 TB both sides "
    "shuffle on the key unless the dim fits the broadcast threshold.",
)
def join_deal_filing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_fuzzy_entity",
    oracle="""
    SELECT a.n_nationkey AS left_key, b.n_nationkey AS right_key,
           round(100.0 * (1.0 - levenshtein(a.n_name, b.n_name)::DOUBLE /
                 greatest(length(a.n_name), length(b.n_name), 1)), 4) AS sim
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE 100.0 * (1.0 - levenshtein(a.n_name, b.n_name)::DOUBLE /
          greatest(length(a.n_name), length(b.n_name), 1)) > 40.0
    """,
    doc="Fuzzy similarity join (ref CrawlerSupport.py:143-154, rapidfuzz "
    "partial_ratio>90 → here normalized-Levenshtein>40, native "
    "levenshtein() on both engines), blocked by LOSSLESS length bands "
    "per SURVEY §2.3: sim > 40 ⟹ edit distance < 0.6·max_len ⟹ "
    "min_len > 0.4·max_len ⟹ length ratio < 2.5, so both strings land "
    "in the same or adjacent log₂.₅(length) band. One side keeps its "
    "band, the other probes band±1, and the join is a hash equi-join on "
    "the band key instead of an all-pairs BNLJ — identical result set "
    "(the oracle keeps the naive theta-join form to prove it).",
)
def join_fuzzy_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = t(spark, sf_dir, "nation")
    band = F.floor(
        F.log(2.5, F.greatest(F.length("n_name"), F.lit(1)).cast("double"))
    )
    a = n.select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("na"), band.alias("band")
    )
    b = n.select(
        F.col("n_nationkey").alias("kb"),
        F.col("n_name").alias("nb"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    # Cheap lossless prefilters first (length ratio, key order), the O(len²)
    # levenshtein only on surviving band-mates.
    sim = 100.0 * (
        1.0
        - F.levenshtein(F.col("na"), F.col("nb")).cast("double")
        / F.greatest(F.length("na"), F.length("nb"), F.lit(1))
    )
    return (
        a.join(b, "band")
        .filter(
            (F.col("ka") < F.col("kb"))
            & (
                F.least(F.length("na"), F.length("nb"))
                > 0.4 * F.greatest(F.length("na"), F.length("nb"), F.lit(1))
            )
        )
        .filter(sim > 40.0)
        .select(
            F.col("ka").alias("left_key"),
            F.col("kb").alias("right_key"),
            r4(sim).alias("sim"),
        )
    )


@register(
    "join_chunk_back",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber,
           round(coalesce(sum(b.l_quantity), 0), 4) AS follow_qty
    FROM lineitem a LEFT JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey
     AND b.l_linenumber > a.l_linenumber
     AND b.l_linenumber <= a.l_linenumber + 3
    GROUP BY a.l_orderkey, a.l_linenumber
    """,
    doc="Positional range self-join: each row pulls its next ≤3 followers "
    "(ref ChunkProcessor.py:407, winner + 11 following chunks). Expressed "
    "as an explicit range join; `window_chunk_follow` is the window-function "
    "formulation of the same semantics (one shuffle instead of a join).",
)
def join_chunk_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    a = li.alias("a")
    b = li.alias("b")
    cond = (
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("b.l_linenumber") > F.col("a.l_linenumber"))
        & (F.col("b.l_linenumber") <= F.col("a.l_linenumber") + 3)
    )
    return (
        a.join(b, cond, "left")
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"), F.col("a.l_linenumber").alias("l_linenumber"))
        .agg(r4(F.coalesce(F.sum("b.l_quantity"), F.lit(0.0))).alias("follow_qty"))
    )


@register(
    "join_org_definition",
    oracle=r"""
    WITH orgs AS (
      SELECT unnest(['vector table', 'merge batch', 'stream window', 'spark value', 'hash join']) AS org
    )
    SELECT o.org, count(*) AS n_defining_docs
    FROM orgs o JOIN documents d
      ON regexp_matches(lower(d.text), '\b' || o.org || '\b')
    GROUP BY o.org
    """,
    doc="Theta join by regex containment: a literal org catalog × document "
    "text (ref ChunkProcessor.py:257-268 — the reference's catalog is a "
    "literal phrase list too; region names never occur in the synthetic "
    "corpus, so the catalog is drawn from its vocabulary to make the "
    "containment genuinely fire). Spark: BroadcastNestedLoopJoin — the "
    "5-row side broadcasts so the scan side never shuffles.",
)
def join_org_definition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ORGS = ["vector table", "merge batch", "stream window", "spark value", "hash join"]
    d = t(spark, sf_dir, "documents")
    orgs = spark.range(1).select(
        F.explode(F.array(*[F.lit(o) for o in ORGS])).alias("org")
    )
    cond = F.rlike(F.lower(d["text"]), F.concat(F.lit(r"\b"), orgs["org"], F.lit(r"\b")))
    return (
        d.join(F.broadcast(orgs), cond)
        .groupBy("org")
        .agg(F.count("*").alias("n_defining_docs"))
    )


@register(
    "join_union_dedup",
    oracle="""
    SELECT DISTINCT k FROM (
      SELECT o_custkey AS k FROM orders
      UNION ALL
      SELECT c_custkey AS k FROM customer
    )
    """,
    doc="Union of hit lists + dedup (ref CrawlerSupport.py:228-245,330-352). "
    "unionByName is a no-shuffle concat; the distinct is one hash shuffle "
    "with partial aggregation map-side.",
)
def join_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.unionByName(c).distinct()


# ---------------------------------------------------------------------------
# §2.4 aggregations


@register(
    "agg_count_total",
    oracle="SELECT count(*) AS total FROM events",
    doc="COUNT over hits (ref CrawlerSupport.py:133-136). Partial counts "
    "map-side, single-row exchange.",
)
def agg_count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").agg(F.count("*").alias("total"))


@register(
    "agg_org_topk",
    oracle=r"""
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents
    ) WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT 5
    """,
    doc="Frequency count + top-k (ref ChunkProcessor.py:331-339, "
    "Counter.most_common(5)). Ties broken by word for determinism — the "
    "reference's Counter order is insertion-dependent; ours is total. "
    "explode → partial count map-side → single shuffle → global top-k "
    "(TakeOrderedAndProject, no full sort at scale).",
)
def agg_org_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(5)
    )


@register(
    "agg_first_match",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc="Deterministic 'first match wins' (ref Processor.py:277-281 is a "
    "racy shared-flag accumulator; replaced with a total order: earliest "
    "(date, key) per group). min_by aggregate — map-side combinable, the "
    "shuffle carries one candidate per (partition, group) instead of "
    "sorting whole partitions under a row_number window.",
)
def agg_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    first = F.expr("min_by(o_orderkey, struct(o_orderdate, o_orderkey))")
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(first.alias("first_orderkey"))
    )


@register(
    "agg_concat_section",
    oracle="""
    SELECT l_orderkey,
           string_agg(l_linenumber::VARCHAR || ':' || l_returnflag, chr(10)
                      ORDER BY l_linenumber, l_returnflag) AS section
    FROM lineitem GROUP BY l_orderkey
    """,
    doc="Ordered string-concat aggregation (ref ChunkProcessor.py:407). "
    "Spark collect_list has no intra-group order guarantee → sort an array "
    "of (pos, text) structs, then join: deterministic without a window.",
)
def agg_concat_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    piece = F.concat(F.col("l_linenumber").cast("string"), F.lit(":"), F.col("l_returnflag"))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("l_linenumber").alias("p"), piece.alias("s")))),
                    lambda x: x["s"],
                ),
                "\n",
            ).alias("section")
        )
    )


# ---------------------------------------------------------------------------
# §2.5 windows / ranking


@register(
    "rank_hybrid_top1",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(hybrid, 4) AS hybrid FROM (
      SELECT l_orderkey, l_linenumber,
             0.4 * l_quantity + 0.6 * l_discount * 100.0 AS hybrid,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY 0.4 * l_quantity + 0.6 * l_discount * 100.0 DESC,
                                         l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
    doc="Weighted hybrid score + top-1 per group (ref ChunkProcessor.py:308-329, "
    "hybrid = 0.4·cos + 0.6·rerank, sort desc, head). Top-1 is a max_by "
    "aggregate over (hybrid desc, position asc) — map-side combinable, so "
    "the shuffle carries one candidate per (partition, group) instead of "
    "sorting whole partitions the way a row_number window would.",
)
def rank_hybrid_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    hybrid = 0.4 * F.col("l_quantity") + 0.6 * F.col("l_discount") * 100.0
    best = F.expr("max_by(struct(l_linenumber, hybrid_raw), struct(hybrid_raw, -l_linenumber))")
    return (
        t(spark, sf_dir, "lineitem")
        .withColumn("hybrid_raw", hybrid)
        .groupBy("l_orderkey")
        .agg(best.alias("b"))
        .select(
            "l_orderkey",
            F.col("b.l_linenumber").alias("l_linenumber"),
            r4(F.col("b.hybrid_raw")).alias("hybrid"),
        )
    )


@register(
    "window_chunk_follow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(coalesce(sum(l_quantity) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
             ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING), 0), 4) AS follow_qty
    FROM lineitem
    """,
    doc="Frame 'current+1 .. current+3 following' (ref ChunkProcessor.py:407 "
    "window over following chunks). Same semantics as join_chunk_back with "
    "one shuffle instead of a self-join — the plan to prefer at scale.",
)
def window_chunk_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_quantity in the ordering: (orderkey, linenumber) is not unique in the
    # fixture, and a ROWS frame over an ambiguous order is nondeterministic.
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity").rowsBetween(1, 3)
    return (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            r4(F.coalesce(F.sum("l_quantity").over(w), F.lit(0.0))).alias("follow_qty"),
        )
    )


@register(
    "sort_by_key",
    oracle="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    doc="Global ascending sort before sink (ref CrawlerHandler.py:139). "
    "Range-partitioned sort (sample → range exchange), scales linearly.",
)
def sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# §2.6 set operations


@register(
    "set_union_hits",
    oracle="""
    SELECT k, src FROM (
      SELECT DISTINCT o_custkey AS k, 'orders' AS src FROM orders
      UNION ALL
      SELECT DISTINCT c_custkey AS k, 'customer' AS src FROM customer
    )
    """,
    doc="UNION ALL of per-request hit lists (ref CrawlerSupport.py:234-243).",
)
def set_union_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct().withColumn("src", F.lit("orders"))
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k")).distinct().withColumn("src", F.lit("customer"))
    return o.unionByName(c)


@register(
    "set_distinct_urls",
    oracle="""
    SELECT event_type, min(event_id) AS first_event_id
    FROM events GROUP BY event_type
    """,
    doc="First-occurrence DISTINCT (ref CrawlerSupport.py:330-352 seen_links "
    "set). Spark has no row order — 'first' is made explicit as min(id).",
)
def set_distinct_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.min("event_id").alias("first_event_id"))
    )


@register(
    "set_distinct_defs",
    oracle="SELECT DISTINCT lang, source FROM documents",
    doc="DISTINCT on computed definition keys (ref ChunkProcessor.py:351-357).",
)
def set_distinct_defs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select("lang", "source").distinct()


def _date_window_oracle() -> str:
    from ..functions.dates import duckdb_date_window_sql

    lb, ub = duckdb_date_window_sql("CAST(o_orderdate AS DATE)", 4)
    return f"""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS announce,
           strftime({lb}, '%Y-%m-%d') AS lb,
           strftime({ub}, '%Y-%m-%d') AS ub
    FROM orders
    """


@register(
    "date_window",
    oracle=_date_window_oracle(),
    doc="Announcement-date search window ±4 months with the reference's exact "
    "day-overflow semantics (CrawlerSupport.py:30-83): LB overflow → day 1 "
    "same month, UB overflow → day 1 NEXT month, floor 2001-01-01. Native "
    "when()/make_date chain, no UDF.",
)
def date_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dates import date_window_lb, date_window_ub

    d = F.to_date("o_orderdate")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        date_str(d).alias("announce"),
        date_str(date_window_lb(d, 4)).alias("lb"),
        date_str(date_window_ub(d, 4)).alias("ub"),
    )
