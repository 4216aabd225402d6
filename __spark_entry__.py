"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (SURVEY.md §7 phase 1): train LDA K=5
on sf0.001 ``documents`` and return the top words per topic.

``queries()`` — one entry per implemented operator family from
SURVEY.md §2 (LDA dataflow ops re-expressed on DataFrames, the
relational surface of §2.2, and the training-data-pipeline extensions:
dedup, similarity search, text analysis, streaming twins, multimodal).

``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every
SQL-expressible query.  Conventions keeping the value-hash stable
across engines:

- money/value sums run over ``decimal(18,6)`` (exact, order-independent
  — double sums are not associative);
- averages are ``cast(exact_decimal_sum as double) / exact_count`` so
  both engines divide identical operands;
- md5-derived hashes use the same construction on both sides
  (``conv(substr(md5(x),1,15),16,10)`` ≙ ``CAST('0x'||… AS BIGINT)``);
- every computed column is aliased identically in Spark and SQL;
- no array-typed output columns in oracle-checked queries (flattened).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from plda_spark.lda.corpus import MIN_TOKEN_LEN, TOKEN_RE, doc_term_counts, tokenize
from plda_spark.lda.train import TrainConfig, train_documents
from plda_spark.lda import infer as lda_infer
from plda_spark.lda.vocab import build_vocab
from plda_spark.operators import dedup, multimodal, similarity, text
from plda_spark.sources.tables import load_table
from plda_spark.streaming import windows

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

# DuckDB twin of plda_spark.lda.corpus tokenization (FIXTURES.md F6).
_SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
    f"x -> length(x) >= {MIN_TOKEN_LEN})"
)

# Fixed byte-level-BPE merge table for the tok_byte_bpe gate query: a
# deterministic constant shared by the Spark query and the DuckDB
# replay oracle (training is iterative and cannot be replayed in SQL;
# the trainer itself is parity-gated in pytest).  Plausible English
# first merges in the GPT-2 remapped space (0x20 -> Ġ).
_BBPE_MERGES = [
    ("Ġ", "t"), ("h", "e"), ("i", "n"), ("r", "e"),
    ("o", "n"), ("Ġt", "he"), ("e", "r"), ("Ġ", "a"),
]


def _bbpe_oracle_sql() -> str:
    """DuckDB replay of byte_bpe_encode with the fixed merges: each
    pretoken's symbols join into a chr(1)-delimited string (anchored
    ends, chr(2) between pretokens so merges never cross), then each
    merge is one global ``replace`` — string replace scans
    left-to-right non-overlapping, exactly the BPE merge semantics.
    Input is projected to printable ASCII so byte == char and the
    only remapped symbol is space -> Ġ."""
    s1, s2 = chr(1), chr(2)
    expr = "sym"
    for a, b in _BBPE_MERGES:
        expr = f"replace({expr}, '{s1}{a}{s1}{s1}{b}{s1}', '{s1}{a}{b}{s1}')"
    return f"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') AS txt
  FROM documents
), p AS (
  SELECT doc_id,
         regexp_extract_all(txt,
           ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+') AS pts
  FROM d
), s AS (
  SELECT doc_id,
         array_to_string(
           list_transform(pts, pt ->
             '{s1}' || array_to_string(
               list_transform(range(0, length(pt)),
                 i -> replace(substr(pt, CAST(i + 1 AS INTEGER), 1),
                              ' ', 'Ġ')),
               '{s1}{s1}') || '{s1}'),
           '{s2}') AS sym
  FROM p
), m AS (
  SELECT doc_id, {expr} AS ms FROM s
), t AS (
  SELECT doc_id,
         list_filter(
           flatten(list_transform(string_split(ms, '{s2}'),
             seg -> string_split(trim(seg, '{s1}'), '{s1}{s1}'))),
           x -> x <> '') AS toks
  FROM m
)
SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
       md5(array_to_string(toks, ' ')) AS tokens_md5
FROM t
"""

# Documents with planted duplicates, used by the near-dup operators so the
# pair queries return non-trivial matches on the synthetic corpus:
#   +100000: exact copies of every 10th doc;
#   +200000: first-80%-of-tokens copies of docs ≡ 5 (mod 10).
# Both constructions are exactly reproducible in SQL (integer slicing only).
_SQL_DOCS_DUP = f"""
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(t[1:GREATEST((len(t)*4)//5, 1)], ' ') AS text
  FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents) WHERE doc_id % 10 = 5
)
"""

# Distinct 3-gram shingles per planted-dup doc (twin of operators.dedup.shingles).
_SQL_SHINGLES = f"""
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' '))) AS shingle
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM docs) WHERE len(toks) >= 3
)
"""

_SQL_MD5_LONG = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def _prefix_copies(docs: DataFrame) -> DataFrame:
    """The planted 80%-prefix copies (doc_id + 200000) — ONE Spark twin
    of the corresponding ``_SQL_DOCS_DUP`` branch, shared by every query
    that plants them so the construction can never drift from its
    oracle.  ``F.floor(size*4/5)`` matches DuckDB's integer
    ``(len*4)//5`` for positive sizes."""
    toks = text.tokens_col("text")
    return docs.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(
            F.slice(
                toks,
                1,
                F.greatest(F.floor(F.size(toks) * 4 / 5), F.lit(1)).cast("int"),
            ),
            " ",
        ).alias("text"),
    )


def _docs_with_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of ``_SQL_DOCS_DUP`` — same planted duplicates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionAll(exact).unionAll(_prefix_copies(docs))


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (doc_id, word, count) triples from documents."""
    return doc_term_counts(tokenize(load_table(spark, sf_dir, "documents")))


def _link_graph(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """The synthetic directed link graph of the graph queries: orders
    projected to ``(o_custkey % mod → o_orderkey % mod)``, self-loops
    and duplicate edges dropped."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            (F.col("o_custkey") % mod).alias("src"),
            (F.col("o_orderkey") % mod).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,6)")


# ---------------------------------------------------------------------------
# entry — flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Train LDA (K=5) on sf0.001 documents; return top-10 words/topic.

    Exercises scan → tokenize (explode/filter) → vocab (distinct +
    window) → broadcast remap join → Gibbs kernel (Arrow pandas UDF) →
    per-iteration partial/final agg (≙ the reference's AllReduce,
    mpi_lda.cc:58-110) → top-k window (view_model.py parity).
    """
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    cfg = TrainConfig(
        num_topics=5, alpha=0.1, beta=0.01, total_iterations=15,
        burn_in_iterations=10, seed=42, num_partitions=8,
    )
    result = train_documents(docs, cfg)
    return result.model.describe_topics(spark, top_n=10)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _qdigest_oracle_sql(
    day_expr: str,
    lo: float,
    hi: float,
    depth: int,
    k: int,
    qs: tuple,
    day_lo: str,
    day_hi: str,
) -> str:
    """DuckDB replay of qdigest_daily_sketches + qdigest_quantile_range
    with the compression's ``depth`` levels UNROLLED as chained CTEs —
    possible precisely because the q-digest is a deterministic pure
    function of the multiset (integer counts, no sampling), the reason
    it was chosen over KLL/t-digest for the rank-sketch ledger."""
    nl = 2 ** depth
    w = (hi - lo) / nl
    stages = []
    for lvl in range(depth, 0, -1):
        lo_id, hi_id = 2 ** lvl, 2 ** (lvl + 1)
        prev = f"c{lvl}"
        stages.append(f"""f{lvl} AS MATERIALIZED (
  SELECT day, id, cnt,
         CASE WHEN id >= {lo_id} AND id < {hi_id} THEN id // 2
              WHEN id >= {lo_id // 2} AND id < {hi_id // 2} THEN id
         END AS fam
  FROM {prev}
), g{lvl} AS MATERIALIZED (
  SELECT day, fam,
         sum(CASE WHEN id <> fam THEN cnt ELSE 0 END) AS cc,
         sum(CASE WHEN id = fam THEN cnt ELSE 0 END) AS pc
  FROM f{lvl} WHERE fam IS NOT NULL GROUP BY day, fam
), c{lvl - 1} AS MATERIALIZED (
  SELECT day, id, cnt FROM f{lvl} WHERE fam IS NULL
  UNION ALL
  SELECT g.day, g.fam AS id, g.cc + g.pc AS cnt
  FROM g{lvl} g JOIN thr USING (day) WHERE g.cc + g.pc <= thr.t
  UNION ALL
  SELECT f.day, f.id, f.cnt
  FROM f{lvl} f
  JOIN g{lvl} g ON f.day = g.day AND f.fam = g.fam
  JOIN thr ON thr.day = f.day
  WHERE g.cc + g.pc > thr.t
)""")
    qvals = ", ".join(f"({q})" for q in qs)
    return f"""
WITH base AS (
  SELECT {day_expr} AS day, CAST(value AS DOUBLE) AS v
  FROM events WHERE value >= {lo} AND value < {hi}
), c{depth} AS MATERIALIZED (
  SELECT day,
         CAST({nl} + least(floor((v - {lo}) / {w!r}), {nl - 1}) AS BIGINT)
           AS id,
         count(*) AS cnt
  FROM base GROUP BY 1, 2
), thr AS MATERIALIZED (
  SELECT day, CAST(floor(sum(cnt) / {float(k)!r}) AS BIGINT) AS t
  FROM c{depth} GROUP BY day
), {", ".join(stages)}, merged AS (
  SELECT id, sum(cnt) AS cnt FROM c0
  WHERE day >= '{day_lo}' AND day <= '{day_hi}'
  GROUP BY id
), geo AS (
  SELECT cnt,
         CAST(pow(2, {depth} - floor(log2(id))) AS BIGINT) AS span,
         CAST((id - pow(2, floor(log2(id))))
              * pow(2, {depth} - floor(log2(id))) AS BIGINT)
           + CAST(pow(2, {depth} - floor(log2(id))) AS BIGINT) - 1
           AS hi_leaf
  FROM merged
), cum AS (
  SELECT hi_leaf,
         sum(cnt) OVER (ORDER BY hi_leaf, span
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER () AS n
  FROM geo
), qt AS (
  SELECT q, min(hi_leaf) AS hl, max(n) AS n
  FROM cum, (VALUES {qvals}) AS qv(q)
  WHERE cum >= greatest(ceil(q * n), 1)
  GROUP BY q
)
SELECT q, CAST(n AS BIGINT) AS n,
       round({lo} + (hl + 1) * {w!r}, 6) AS est
FROM qt ORDER BY q
"""


def _ladder_oracle_sql(k: int = 10, doublings: int = 4) -> str:
    """DuckDB replay of dedup_longest_spans on the planted-dup corpus:
    the same doubling digest ladder (level-j digest = md5 of the two
    children's digests), per-level first-occurrence losers, and the
    parent-not-a-loser maximal filter — all MATERIALIZED so the CTE
    chain evaluates linearly."""
    stages = []
    for j in range(1, doublings + 1):
        stages.append(f"""c{j} AS MATERIALIZED (
  SELECT doc_id, CAST(idx // 2 AS INT) AS idx,
         md5(min_by(dg, idx) || ' ' || max_by(dg, idx)) AS dg,
         sum(nt) AS nt
  FROM c{j - 1}
  GROUP BY doc_id, idx // 2
  HAVING count(*) = 2 AND sum(nt) = {k * 2 ** j}
)""")
    for j in range(0, doublings + 1):
        stages.append(f"""l{j} AS MATERIALIZED (
  SELECT doc_id, idx, nt FROM (
    SELECT doc_id, idx, nt,
           row_number() OVER (PARTITION BY dg
                              ORDER BY doc_id, idx) AS rn
    FROM c{j}
  ) WHERE rn > 1
)""")
    for j in range(0, doublings + 1):
        if j == doublings:
            stages.append(
                f"m{j} AS (SELECT doc_id, idx, nt FROM l{j})"
            )
        else:
            stages.append(f"""m{j} AS (
  SELECT l.doc_id, l.idx, l.nt FROM l{j} l
  LEFT JOIN l{j + 1} p
    ON p.doc_id = l.doc_id AND p.idx = l.idx // 2
  WHERE p.doc_id IS NULL
)""")
    regions_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, nt FROM m{j}" for j in range(doublings + 1)
    )
    return f"""
WITH {_SQL_DOCS_DUP},
base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM docs
  WHERE len({_SQL_TOKS}) >= 1
),
c0 AS MATERIALIZED (
  SELECT doc_id, i - 1 AS idx,
         md5(array_to_string(toks[(i-1)*{k}+1 : (i-1)*{k}+{k}], ' ')) AS dg,
         len(toks[(i-1)*{k}+1 : (i-1)*{k}+{k}]) AS nt
  FROM (
    SELECT doc_id, toks,
           unnest(range(1, CAST(ceil(len(toks) / {k}.0) AS INT) + 1)) AS i
    FROM base
  )
),
{", ".join(stages)},
regions AS (
  {regions_union}
),
rs AS (
  SELECT doc_id, count(*) AS n_removed_regions,
         max(nt) AS max_region_tokens
  FROM regions GROUP BY doc_id
),
k0 AS (
  SELECT c0.doc_id, count(*) AS n_spans,
         sum(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END) AS n_kept,
         md5(coalesce(string_agg(
           CASE WHEN l.doc_id IS NULL THEN c0.dg END, ' '
           ORDER BY c0.idx), '')) AS dedup_digest
  FROM c0 LEFT JOIN l0 l
    ON l.doc_id = c0.doc_id AND l.idx = c0.idx
  GROUP BY c0.doc_id
)
SELECT k0.doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(coalesce(rs.n_removed_regions, 0) AS BIGINT)
         AS n_removed_regions,
       CAST(coalesce(rs.max_region_tokens, 0) AS BIGINT)
         AS max_region_tokens,
       dedup_digest
FROM k0 LEFT JOIN rs ON rs.doc_id = k0.doc_id
"""


def _two_wave_ledger(spark: SparkSession, ev: DataFrame, prefix: str, write) -> str:
    """Ingest ``ev`` into a fresh ledger as two micro-batches of one
    checkpoint: the even ``event_id`` wave is batch 0, the odd wave
    batch 1.  One source scan stages both waves
    (``windows.stage_parity_waves``); each wave then arrives as a
    metadata-only file move and ``write(stream, state_path,
    checkpoint_path)`` drains it with ``availableNow``.  Returns the
    ledger path.  Only for ledgers whose partials are exact (integer
    counts, set folds, digests): the staged files' layout differs from
    a per-wave scan's, which would move float sums."""
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    src, state, ckpt = f"{d}/in", f"{d}/state", f"{d}/ckpt"
    deliver = windows.stage_parity_waves(ev, src)
    for wave in (0, 1):
        deliver(wave)
        write(spark.readStream.schema(ev.schema).parquet(src), state, ckpt)
    return state


def _hist_ledger(spark: SparkSession, sf: str, prefix: str) -> str:
    """The two-wave histogram ledger of ``events.value`` (64 bins over
    ``[0, 200)``) that the four streaming drift queries fold."""
    return _two_wave_ledger(
        spark,
        load_table(spark, sf, "events").select("event_id", "value"),
        prefix,
        lambda stream, state, ckpt: windows.incremental_hist_ledger(
            stream, state, ckpt, "value", lo=0.0, hi=200.0, nbins=64
        ),
    )


def _ab_ledger(spark: SparkSession, sf: str, prefix: str) -> str:
    """The two-wave per-user conversion ledger (a purchase over 100
    converts) that the three streaming A/B queries read."""
    ev = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        (
            (F.col("event_type") == "purchase") & (F.col("value") > 100)
        ).cast("int").alias("converted"),
    )
    return _two_wave_ledger(
        spark,
        ev,
        prefix,
        lambda stream, state, ckpt: windows.incremental_ab_ledger(
            stream, state, ckpt, user_col="user_id", success_col="converted"
        ),
    )


def _all_query_defs() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every implemented query, keyed by name (contract + extras).

    ``queries()`` selects the 50 driver-recorded CONTRACT_QUERIES from
    this registry; ``extra_queries()`` selects the EXTRA_QUERIES that the
    pytest hash gate (tests/test_extra_oracle.py) verifies with the same
    DuckDB comparison.  Definition order here is irrelevant — the
    ordered contract lives in CONTRACT_QUERIES below.
    """
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- LDA dataflow (SQL-expressible stages) ----------------------------
    # (doc_term_counts itself is verified through source_plda_roundtrip,
    # which produces the identical triples THROUGH the writer→reader.)
    q["lda_vocab"] = lambda spark, sf: build_vocab(_corpus(spark, sf))

    q["lda_word_totals"] = lambda spark, sf: (
        _corpus(spark, sf)
        .groupBy("word")
        .agg(
            F.sum("count").alias("total_occurrences"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
    )

    def lda_top_words_by_lang(spark, sf):
        docs = load_table(spark, sf, "documents")
        tok = tokenize(docs).join(docs.select("doc_id", "lang"), "doc_id")
        df = tok.groupBy("lang", "word").agg(
            F.countDistinct("doc_id").alias("doc_freq")
        )
        w = Window.partitionBy("lang").orderBy(F.desc("doc_freq"), F.asc("word"))
        return (
            df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("lang", "rank", "word", "doc_freq")
        )

    q["lda_top_words_by_lang"] = lda_top_words_by_lang

    def source_plda_roundtrip(spark, sf):
        """plda text-format writer → reader round-trip (O1/O16 surface):
        the recovered triples must equal the direct tokenization, so the
        lda_doc_term_counts oracle applies verbatim (doc ids are dense
        0..N-1 and every doc has ≥1 token, so line order preserves ids)."""
        import tempfile

        from plda_spark.sources.plda_text import read_plda_corpus, write_plda_corpus

        tmp = tempfile.mkdtemp(prefix="plda_fmt_") + "/corpus"
        write_plda_corpus(_corpus(spark, sf), tmp)
        return read_plda_corpus(spark, tmp)

    q["source_plda_roundtrip"] = source_plda_roundtrip

    # ---- relational surface (SURVEY §2.2) over TPC-H-ish tables -----------
    def q1_pricing_summary(spark, sf):
        li = load_table(spark, sf, "lineitem").where(
            F.col("l_shipdate") <= F.lit("1998-09-02")
        )
        disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,6)"
        )
        charge = (
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).cast("decimal(18,6)")
        # Sums run exact over decimal(18,6) (order-independent), then cast
        # to double for the output so both engines emit identical floats.
        g = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(_dec("l_quantity")).alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        return g.select(
            "l_returnflag",
            "l_linestatus",
            F.col("sum_qty").cast("double").alias("sum_qty"),
            F.col("sum_base_price").cast("double").alias("sum_base_price"),
            F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
            F.col("sum_charge").cast("double").alias("sum_charge"),
            (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
            (F.col("sum_base_price").cast("double") / F.col("count_order")).alias("avg_price"),
            "count_order",
        )

    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_top_revenue_orders(spark, sf):
        cust = load_table(spark, sf, "customer").where(
            F.col("c_mktsegment") == "BUILDING"
        )
        orders = load_table(spark, sf, "orders")
        li = load_table(spark, sf, "lineitem")
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10)
            .withColumn("revenue", F.col("revenue").cast("double"))
        )

    q["q3_top_revenue_orders"] = q3_top_revenue_orders

    def q5_nation_revenue(spark, sf):
        region = load_table(spark, sf, "region")
        nation = load_table(spark, sf, "nation")
        cust = load_table(spark, sf, "customer")
        orders = load_table(spark, sf, "orders")
        li = load_table(spark, sf, "lineitem")
        supp = load_table(spark, sf, "supplier")
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .where(F.col("c_nationkey") == F.col("s_nationkey"))
            .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
            .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
            .groupBy("r_name", "n_name")
            .agg(
                F.sum(rev).cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_lineitems"),
            )
        )

    q["q5_nation_revenue"] = q5_nation_revenue

    def join_salted_skew(spark, sf):
        """Salted join (skew tool) — result must equal the plain join."""
        from plda_spark.operators.joins import salted_join

        li = load_table(spark, sf, "lineitem")
        part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
        j = salted_join(li.select("l_orderkey", "l_partkey", "l_quantity"),
                        part.withColumnRenamed("p_partkey", "l_partkey"),
                        on="l_partkey", salt=8)
        return j.groupBy("p_brand").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )

    q["join_salted_skew"] = join_salted_skew

    def grouping_sets_revenue(spark, sf):
        load_table(spark, sf, "orders").createOrReplaceTempView("v_orders")
        load_table(spark, sf, "customer").createOrReplaceTempView("v_customer")
        load_table(spark, sf, "nation").createOrReplaceTempView("v_nation")
        load_table(spark, sf, "region").createOrReplaceTempView("v_region")
        return spark.sql("""
            SELECT r_name, n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
                   count(*) AS n_orders
            FROM v_orders
            JOIN v_customer ON o_custkey = c_custkey
            JOIN v_nation ON c_nationkey = n_nationkey
            JOIN v_region ON n_regionkey = r_regionkey
            GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """)

    q["grouping_sets_revenue"] = grouping_sets_revenue

    def join_anti_customers_no_urgent(spark, sf):
        cust = load_table(spark, sf, "customer")
        urgent = load_table(spark, sf, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")
            .select("c_custkey", "c_name", "c_mktsegment")
        )

    q["join_anti_customers_no_urgent"] = join_anti_customers_no_urgent

    def join_left_customer_orders(spark, sf):
        cust = load_table(spark, sf, "customer")
        big = load_table(spark, sf, "orders").where(F.col("o_totalprice") > 450000)
        j = cust.join(big, cust["c_custkey"] == big["o_custkey"], "left")
        return j.groupBy("c_custkey", "c_mktsegment").agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.coalesce(F.max(_dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "max_big_price"
            ),
        )

    q["join_left_customer_orders"] = join_left_customer_orders

    def join_semi_big_spenders(spark, sf):
        cust = load_table(spark, sf, "customer")
        big = load_table(spark, sf, "orders").where(F.col("o_totalprice") > 400000)
        return (
            cust.join(big, cust["c_custkey"] == big["o_custkey"], "left_semi")
            .select("c_custkey", "c_name")
        )

    q["join_semi_big_spenders"] = join_semi_big_spenders

    def window_top_orders_per_customer(spark, sf):
        orders = load_table(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        return (
            orders.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
        )

    q["window_top_orders_per_customer"] = window_top_orders_per_customer

    def rollup_region_nation_revenue(spark, sf):
        """ROLLUP and CUBE in one query (tag column) — both multi-level
        grouping operators exercised, one contract slot."""
        nation = load_table(spark, sf, "nation")
        region = load_table(spark, sf, "region")
        cust = load_table(spark, sf, "customer")
        orders = load_table(spark, sf, "orders")
        j = (
            orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
            .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        )
        roll = j.rollup("r_name", "n_name").agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n_orders"),
        ).select(
            F.lit("rollup").alias("op"),
            F.col("r_name").alias("key1"),
            F.col("n_name").alias("key2"),
            "total_value",
            "n_orders",
        )
        cube = orders.cube("o_orderstatus", "o_orderpriority").agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n_orders"),
        ).select(
            F.lit("cube").alias("op"),
            F.col("o_orderstatus").alias("key1"),
            F.col("o_orderpriority").alias("key2"),
            "total_value",
            "n_orders",
        )
        return roll.unionAll(cube)

    q["rollup_region_nation_revenue"] = rollup_region_nation_revenue

    def setop_purchasers(spark, sf):
        """EXCEPT and INTERSECT in one query (tag column) — both set
        operators exercised, one contract slot."""
        ev = load_table(spark, sf, "events")
        early = ev.where(F.col("ts") < F.lit("2024-01-08"))
        a = early.where(F.col("event_type") == "purchase").select("user_id")
        b = early.where(F.col("event_type") == "error").select("user_id")
        exc = a.subtract(b).select(F.lit("except").alias("op"), "user_id")
        c = ev.where(F.col("event_type") == "purchase").select("user_id")
        d = ev.where(F.col("event_type") == "signup").select("user_id")
        inter = c.intersect(d).select(F.lit("intersect").alias("op"), "user_id")
        return exc.unionAll(inter)

    q["setop_purchasers"] = setop_purchasers

    def join_full_outer_daily(spark, sf):
        ev = load_table(spark, sf, "events")
        day = F.date_trunc("day", "ts").alias("day")
        p = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy(day).agg(F.count(F.lit(1)).alias("n_purchases"))
        )
        err = (
            ev.where(F.col("event_type") == "error")
            .groupBy(day).agg(F.count(F.lit(1)).alias("n_errors"))
        )
        return (
            p.join(err, "day", "full_outer")
            .select(
                "day",
                F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
                F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
            )
        )

    q["join_full_outer_daily"] = join_full_outer_daily

    def agg_distinct(spark, sf):
        """Exact countDistinct (hash-checked) + the HLL++ sketch gated as
        an error-bound boolean: |approx - exact| <= 5% of exact (the rsd
        0.02 sketch lands well inside; measured <=0.4% on sf0.001-0.1).
        The oracle asserts the bound as a literal TRUE, so a sketch
        regression past 5% fails the hash without pinning the
        engine-specific estimate itself."""
        ev = load_table(spark, sf, "events")
        g = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
        )
        return g.select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_ok"),
        )

    q["agg_distinct"] = agg_distinct

    def agg_distinct_exact(spark, sf):
        """The exact half of the distinct-count family, hash-checked
        (the sketch variant above stays rows-only)."""
        ev = load_table(spark, sf, "events")
        return ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_users")
        )

    q["agg_distinct_exact"] = agg_distinct_exact

    def distinct_daily_active_users(spark, sf):
        ev = load_table(spark, sf, "events")
        return (
            ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
            .agg(F.countDistinct("user_id").alias("n_users"))
        )

    q["distinct_daily_active_users"] = distinct_daily_active_users

    def orders_monthly_summary(spark, sf):
        orders = load_table(spark, sf, "orders")
        return (
            orders.groupBy(
                F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            )
        )

    q["orders_monthly_summary"] = orders_monthly_summary

    def string_part_stats(spark, sf):
        part = load_table(spark, sf, "part")
        return (
            part.where(F.col("p_type").like("%OM%"))
            .select(
                "p_partkey",
                F.concat_ws("/", "p_brand", F.upper("p_type")).alias("brand_type"),
                F.substring("p_name", 1, 8).alias("name_prefix"),
                F.length("p_name").alias("name_len"),
                (F.col("p_size") % 10).alias("size_mod"),
            )
        )

    q["string_part_stats"] = string_part_stats

    def having_loyal_customers(spark, sf):
        orders = load_table(spark, sf, "orders")
        return (
            orders.groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.max(_dec("o_totalprice")).cast("double").alias("max_price"),
            )
            .where(F.col("n_orders") >= 15)
        )

    q["having_loyal_customers"] = having_loyal_customers

    def events_json_props(spark, sf):
        ev = load_table(spark, sf, "events")
        k = F.get_json_object("props", "$.k").cast("long")
        return ev.groupBy("event_type").agg(
            F.sum(k).alias("sum_k"), F.count(k).alias("n_k")
        )

    q["events_json_props"] = events_json_props

    # ---- deduplication -----------------------------------------------------
    q["dedup_exact"] = lambda spark, sf: dedup.exact_duplicates(
        _docs_with_dupes(spark, sf)
    )

    q["dedup_jaccard_pairs"] = lambda spark, sf: dedup.jaccard_pairs(
        _docs_with_dupes(spark, sf), threshold=0.5, n=3
    )

    def dedup_containment_pairs(spark, sf):
        """Asymmetric n-gram CONTAINMENT ≥ 0.9 — |A∩B|/|A|, the
        near-superset relation Jaccard misses when the container is
        much larger (quotes, excerpts, boilerplate wrappers).  Exact
        via the asymmetric prefix filter: contained-side prefix ×
        container-side full shingle keys, still an equi-join
        (operators/dedup.py containment_pairs).  The planted 80%-prefix
        copies (doc_id + 200000) are the true positives here: each is
        ~fully contained in its original while their Jaccard is only
        ~0.8."""
        return dedup.containment_pairs(
            _docs_with_dupes(spark, sf), threshold=0.9, n=3
        )

    q["dedup_containment_pairs"] = dedup_containment_pairs

    # (minhash signatures and raw simhash values are verified end-to-end
    # through the *_pairs queries below, which consume them; unit-level
    # behavior is covered in tests/test_operators.py.)
    q["dedup_minhash_pairs"] = lambda spark, sf: dedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf), num_hashes=16, bands=4, n=3, threshold=0.5
    )

    def dedup_clusters(spark, sf):
        """Pairs → clusters: MinHash-LSH candidate pairs fed through
        distributed connected components; output is each doc's
        canonical representative (min reachable doc_id) — the final
        stage of a real dedup pipeline."""
        prs = dedup.minhash_lsh_pairs(
            _docs_with_dupes(spark, sf), num_hashes=16, bands=4, n=3, threshold=0.5
        )
        return dedup.connected_components(prs)

    q["dedup_clusters"] = dedup_clusters

    q["dedup_simhash_pairs"] = lambda spark, sf: dedup.simhash_pairs(
        _docs_with_dupes(spark, sf), max_hamming=3
    )

    # ---- similarity search -------------------------------------------------
    def sim_brute_topk(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.brute_force_topk(emb, qs, k=5)

    q["sim_brute_topk"] = sim_brute_topk

    # Exhaustive probing (n_probe == n_cells) makes the blocked scale path
    # exact, so the brute-force O(n²) oracle applies to the whole
    # IVF-blocked plan (blocked ≡ brute is additionally pinned in
    # tests/test_operators.py, which exercises the unblocked variant).
    q["sim_near_dup_blocked"] = lambda spark, sf: similarity.embedding_near_dup_pairs_blocked(
        load_table(spark, sf, "embeddings"), dim=64, threshold=0.4,
        n_cells=8, n_probe=8,
    )

    def sim_lsh_topk(spark, sf):
        """bands == num_planes (1-bit bands, maximal OR-amplification)
        reaches 100% recall on this corpus, so the brute-force oracle
        applies while the banded signature→bucket-join plan is exercised
        end-to-end (the genuinely approximate bands < planes config is
        recall-tested in tests/test_operators.py)."""
        emb = load_table(spark, sf, "embeddings")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.lsh_topk(emb, qs, dim=64, k=5, num_planes=16, bands=16)

    q["sim_lsh_topk"] = sim_lsh_topk

    def sim_ivf_topk(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.ivf_topk(emb, qs, dim=64, k=5, n_cells=16, n_probe=16)

    # n_probe == n_cells scans every cell → identical to the brute-force
    # oracle (the approximate path is exercised with n_probe < n_cells in
    # tests; here the gate checks the IVF plan end-to-end for exactness).
    q["sim_ivf_topk"] = sim_ivf_topk

    def sim_ivfpq_topk(spark, sf):
        """IVF-PQ (operators.similarity.ivf_pq_topk, the faiss-standard
        composition: coarse cells → residual PQ codes → ADC shortlist →
        exact re-rank) at its exactness config — exhaustive probe + a
        shortlist ≥ |corpus|, so the exact re-rank recovers brute-force
        cosine top-k and the brute oracle applies while EVERY stage
        (cell assign, residual encode, per-cell ADC tables, re-rank)
        executes end-to-end.  oversample is computed FROM the corpus
        count so the k·oversample ≥ |corpus| precondition holds at
        every scale factor (2000 vectors at sf0.1, not just the 500 at
        sf0.01).  Approximate configs are recall-tested in
        tests/test_operators.py."""
        emb = load_table(spark, sf, "embeddings")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        k = 5
        oversample = -(-emb.count() // k)  # ceil(n/k): shortlist >= corpus
        return similarity.ivf_pq_topk(
            emb, qs, dim=64, k=k, n_cells=8, n_probe=8, m=8, k_codes=16,
            oversample=oversample,
        )

    q["sim_ivfpq_topk"] = sim_ivfpq_topk

    def sim_ivfpq_index(spark, sf):
        """Persisted IVF-PQ index (operators.similarity.ivf_pq_build /
        ivf_pq_search): quantizers trained + corpus encoded ONCE to a
        cell-partitioned parquet layout, then searched with parquet
        partition pruning over the probed cells (plan-pinned in
        tests/test_plans.py).  Exactness config (exhaustive probe +
        shortlist ≥ |corpus|) so the brute-force oracle applies while
        the whole build→persist→prune→ADC→re-rank path executes."""
        import tempfile

        emb = load_table(spark, sf, "embeddings")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        k = 5
        oversample = -(-emb.count() // k)
        tmp = tempfile.mkdtemp(prefix="plda_ivfpq_")
        similarity.ivf_pq_build(
            emb, dim=64, path=tmp, n_cells=8, m=8, k_codes=16
        )
        return similarity.ivf_pq_search(
            qs, tmp, emb, k=k, n_probe=8, oversample=oversample
        )

    q["sim_ivfpq_index"] = sim_ivfpq_index

    # ---- text analysis -----------------------------------------------------
    q["text_token_stats"] = lambda spark, sf: text.token_stats(
        load_table(spark, sf, "documents")
    )
    q["text_quality"] = lambda spark, sf: text.quality_score(
        load_table(spark, sf, "documents")
    )
    q["text_langid"] = lambda spark, sf: text.language_id(
        load_table(spark, sf, "documents")
    )

    def text_gopher_filters(spark, sf):
        """The published Gopher page-quality rules (Rae et al. 2021)
        rule-by-rule (operators.text.gopher_filters); verdict flags cast
        to int for engine-stable hashing."""
        out = text.gopher_filters(load_table(spark, sf, "documents"))
        flag_cols = [c for c in out.columns if c.startswith("ok_")] + ["gopher_pass"]
        keep = [c for c in out.columns if c not in flag_cols]
        return out.select(
            *keep, *[F.col(c).cast("int").alias(c) for c in flag_cols]
        )

    q["text_gopher_filters"] = text_gopher_filters

    def text_gopher_repetition(spark, sf):
        """The Gopher repetition filters (operators.text.
        gopher_repetition): duplicate line/paragraph fractions and
        top/duplicate n-gram character fractions, per-row folds only."""
        return text.gopher_repetition(load_table(spark, sf, "documents"))

    q["text_gopher_repetition"] = text_gopher_repetition

    def text_c4_clean(spark, sf):
        """C4-style line-level cleaning (operators.text.c4_clean):
        kept-line counts, cleaned text, and the page verdict."""
        out = text.c4_clean(load_table(spark, sf, "documents"))
        return out.select(
            "doc_id",
            "n_lines",
            "n_kept_lines",
            F.md5("text").alias("text_digest"),
            F.col("c4_keep").cast("int").alias("c4_keep"),
        )

    q["text_c4_clean"] = text_c4_clean

    def text_fingerprint(spark, sf):
        """md5 set-fingerprint + winnowing rolling-hash summary (MOSS
        scheme) in one per-doc row."""
        docs = load_table(spark, sf, "documents")
        return text.fingerprint(docs).join(text.winnow(docs, k=4, w=5), "doc_id")

    q["text_fingerprint"] = text_fingerprint
    q["text_tfidf"] = lambda spark, sf: text.tf_idf(load_table(spark, sf, "documents"))
    q["text_collocations"] = lambda spark, sf: text.collocations(
        load_table(spark, sf, "documents"), min_count=5
    )

    # ---- sampling / splitting / packing (training-data pipeline) ----------
    def sample_hash_buckets(spark, sf):
        """Hash-mod sampling + train/val/test split counts in one query
        (tag column) — both md5-bucket primitives exercised, one slot."""
        from plda_spark.operators.sampling import hash_mod_sample, train_val_test_split

        docs = load_table(spark, sf, "documents")
        sampled = hash_mod_sample(docs.select("doc_id", "n_chars"), keep_pct=20).select(
            F.lit("sample").alias("op"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("n_chars").cast("long").alias("n"),
        )
        splits = (
            train_val_test_split(docs.select("doc_id"))
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(
                F.lit("split").alias("op"),
                F.col("split").alias("key"),
                F.col("n_docs").alias("n"),
            )
        )
        return sampled.unionAll(splits)

    q["sample_hash_buckets"] = sample_hash_buckets

    def sample_chunk_documents(spark, sf):
        """Context-window chunking (max 64 tokens, overlap 16) over the
        documents table; chunk text verified via md5 digest."""
        from plda_spark.operators.sampling import chunk_documents

        return chunk_documents(
            load_table(spark, sf, "documents"), max_tokens=64, overlap=16
        )

    q["sample_chunk_documents"] = sample_chunk_documents

    def sample_pack_sequences(spark, sf):
        from plda_spark.operators.sampling import pack_sequences

        stats = text.token_stats(load_table(spark, sf, "documents")).select(
            "doc_id", "n_tokens"
        )
        return pack_sequences(stats, max_tokens=2048)

    q["sample_pack_sequences"] = sample_pack_sequences

    # ---- streaming twins (batch mode; streaming parity in tests) ----------
    def stream_window_aggs(spark, sf):
        """Tumbling counts + sliding sums in one query (tag column) —
        both window shapes exercised, one contract slot."""
        ev = load_table(spark, sf, "events")
        tumble = windows.tumbling_counts_batch(ev).select(
            F.lit("tumbling").alias("op"),
            "window_start",
            "event_type",
            F.col("n_events").cast("double").alias("value"),
        )
        slide = windows.sliding_value_sums_batch(ev).select(
            F.lit("sliding").alias("op"),
            "window_start",
            "event_type",
            F.col("total_value").alias("value"),
        )
        return tumble.unionAll(slide)

    q["stream_window_aggs"] = stream_window_aggs

    def stream_interval_join(spark, sf):
        """Batch twin of the stream-stream interval join (purchases ⋈
        same-user errors in the preceding 30 min); streaming parity is
        pinned in tests/test_streaming.py."""
        return windows.interval_join_batch(load_table(spark, sf, "events")).select(
            "user_id", "purchase_id", "error_id"
        )

    q["stream_interval_join"] = stream_interval_join

    def stream_interval_join_outer(spark, sf):
        """Batch twin of the LEFT OUTER stream-stream interval join
        (streaming.windows.interval_join_outer): every purchase emits,
        unmatched ones with null error columns — the outer-join surface
        whose null rows only Structured Streaming's watermark can
        certify; streaming parity is pinned in tests/test_streaming."""
        return windows.interval_join_outer_batch(
            load_table(spark, sf, "events")
        ).select("user_id", "purchase_id", "error_id")

    q["stream_interval_join_outer"] = stream_interval_join_outer

    def curation_drift(spark, sf):
        """Composition-drift report after a filter stage (operators/
        curation.py mixture_drift): per-language shares before vs after
        a length filter, retention, and the KL(after ‖ before) terms —
        the observability pass that catches a rule silently gutting one
        slice of the corpus.  Group-key-sized aggregations only."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents")
        kept = docs.where(F.length("text") >= 200)
        return curation.mixture_drift(docs, kept, group_col="lang")

    q["curation_drift"] = curation_drift

    def curation_token_budget(spark, sf):
        """Absolute token-budget mixture planning with saturation
        (operators/curation.py token_budget_mixture): equal weights
        over every source and a budget above the small sources' fair
        share, so several sources SATURATE (rate 1) and their unused
        allocation water-fills the rest — the closed-form prefix rule,
        no iteration, verified arithmetic-exactly by the oracle's
        identical windows."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents").withColumn(
            "n_tok", F.size(text.tokens_col("text"))
        )
        weights = {f"src{i}": 1.0 for i in range(20)}
        return curation.token_budget_mixture(
            docs, "source", budget_tokens=26000,
            token_count_col="n_tok", weights=weights,
        )

    q["curation_token_budget"] = curation_token_budget

    def sim_sq8_topk(spark, sf):
        """Two-stage SQ8 search (operators/similarity.py sq8_encode /
        sq8_topk): int8 max-abs codes (4x smaller scan — the per-vector
        scale cancels in cosine, so the shortlist scores directly over
        the codes), then EXACT cosine re-rank of the 20-candidate
        shortlist.  The oracle replays quantize → shortlist → re-rank
        end-to-end."""
        emb = load_table(spark, sf, "embeddings")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        codes = similarity.sq8_encode(emb)
        return similarity.sq8_topk(
            codes, qs, k=5, refine_with=emb, shortlist=20
        )

    q["sim_sq8_topk"] = sim_sq8_topk

    def sim_matryoshka_topk(spark, sf):
        """Matryoshka two-stage search (operators/similarity.py
        matryoshka_topk — Kusupati et al. 2022): stage 1 scores cosine
        over only the FIRST 16 of 64 coordinates (MRL models front-load
        signal, so the scan reads/multiplies 4x less), stage 2 exactly
        re-ranks the 20-candidate shortlist at full dimension.  The
        dimension-slice sibling of the SQ8 precision cut; the oracle
        replays both stages (prefix shortlist ties included)."""
        from plda_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        qvecs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.matryoshka_topk(
            emb, qvecs, prefix_dim=16, k=5, shortlist=20
        )

    q["sim_matryoshka_topk"] = sim_matryoshka_topk

    def events_rfm(spark, sf):
        """RFM user segmentation (operators/events.py rfm_scores):
        per-user Recency/Frequency/Monetary scored into quintiles.
        method='ntile' here — exact rank buckets, engine-replayable, the
        oracle mode; method='cuts' is the 100 TB path (broadcast
        percentile_approx cut points, no global sort — the
        curation.ppl_buckets design), agreement pytest-pinned."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.rfm_scores(load_table(spark, sf, "events"), method="ntile")

    q["events_rfm"] = events_rfm

    def stats_bootstrap_ci(spark, sf):
        """Deterministic Poisson(1) bootstrap CI for the mean purchase
        value (operators/stats.py bootstrap_ci): weights come from
        md5(event_id:replica) inverse-CDF draws, so the resampling is
        engine-replayable — the oracle recomputes all 32 replica means
        and the interpolated percentile CI bit-for-bit.  One aggregation
        job carries every replica's partials; no row x replica explode
        (32 replicas keeps the 2B-wide aggregate inside codegen limits —
        the operator itself takes any count)."""
        from plda_spark.operators import stats

        purchases = load_table(spark, sf, "events").where(
            F.col("event_type") == "purchase"
        )
        return stats.bootstrap_ci(
            purchases, value_col="value", key_col="event_id", n_replicas=32
        )

    q["stats_bootstrap_ci"] = stats_bootstrap_ci

    def text_readability(spark, sf):
        """Flesch reading-ease + Flesch-Kincaid grade per document —
        the classic readability pair used as a quality-filter feature.
        Deterministic heuristic counters shared with the oracle:
        sentences = '.!?' runs (min 1), words = the engine token rule,
        syllables = vowel-group runs per word (min 1 per word).  Pure
        per-row JVM regex/array arithmetic, no shuffle."""
        docs = load_table(spark, sf, "documents")
        toks = text.tokens_col("text")
        n_words = F.size(toks)
        n_sents = F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
        )
        syl = F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, w: acc
            + F.greatest(F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)),
        )
        wps = n_words.cast("double") / n_sents
        spw = syl.cast("double") / F.greatest(n_words, F.lit(1))
        return docs.where(n_words > 0).select(
            "doc_id",
            n_words.alias("n_words"),
            n_sents.alias("n_sentences"),
            syl.alias("n_syllables"),
            F.round(
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
            ).alias("flesch_ease"),
            F.round(
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4
            ).alias("fk_grade"),
        )

    q["text_readability"] = text_readability
    q["stream_sessionize"] = lambda spark, sf: windows.sessionize_batch(
        load_table(spark, sf, "events")
    )

    def stream_session_window(spark, sf):
        """Spark's NATIVE session_window aggregation (streaming.windows.
        session_window_counts) — the declarative Catalyst-managed twin
        of the applyInPandasWithState sessionizer; same function runs on
        the stream (watermark-bounded state) and on this batch frame."""
        return windows.session_window_counts(load_table(spark, sf, "events"))

    q["stream_session_window"] = stream_session_window

    def stream_dedup_batch(spark, sf):
        ev = load_table(spark, sf, "events")
        dup = ev.unionAll(ev)  # planted duplicates, reproducible in SQL
        return windows.stream_dedup_batch(dup, keys=["event_id"]).select(
            "event_id", "user_id", "event_type"
        )

    q["stream_dedup"] = stream_dedup_batch

    # ---- multimodal plumbing (hash-checked: the fake decode is integer
    # arithmetic on the payload md5, so the oracle verifies the full
    # pipeline — schema, explode shape, frame-sampling math, AND the
    # Arrow-batched decode values) -------------------------------------
    def multimodal_pipeline(spark, sf):
        """Image feature-extraction + video frame-sampling + audio
        analysis-windowing in one query (tag column) — all three
        mapInPandas decode paths exercised, one slot."""
        media = multimodal.attach_fake_media(load_table(spark, sf, "documents"))
        feats = multimodal.decode_image_features(media, out_dim=8).select(
            F.lit("image_feature").alias("kind"),
            "media_id",
            F.posexplode("features").alias("idx", "value"),
        )
        frames = multimodal.sample_video_frames(media, every_n=30).select(
            F.lit("video_frame").alias("kind"),
            "media_id",
            F.col("frame_idx").alias("idx"),
            F.element_at("frame_features", 1).alias("value"),
        )
        auds = multimodal.extract_audio_windows(media).select(
            F.lit("audio_window").alias("kind"),
            "media_id",
            F.col("window_idx").alias("idx"),
            F.element_at("window_features", 1).alias("value"),
        )
        return feats.unionAll(frames).unionAll(auds)

    q["multimodal_pipeline"] = multimodal_pipeline

    def multimodal_image_neardup(spark, sf):
        """Near-duplicate image detection: perceptual dHash (gradient-
        direction bits over the decoded grayscale features, packed into
        one bigint) + the band-pigeonhole hamming search shared with
        SimHash (operators/multimodal.py image_dhash /
        image_near_dup_pairs; dedup.py hamming_band_pairs).  Exact
        within the dHash metric — the banding loses NO pairs vs a
        brute-force scan, which is what the DuckDB oracle runs.  The
        fake decode backend makes every signature bit SQL-reproducible;
        the real-PNG backend is golden-tested in tests/test_multimodal.
        max_hamming=4 keeps the 5 bands ~12 bits wide: buckets stay
        sparse (banded-join cost is sum of |bucket|^2), and a 4-bit
        radius over 63 gradient bits is already a loose near-dup ball."""
        media = multimodal.attach_fake_media(load_table(spark, sf, "documents"))
        return multimodal.image_near_dup_pairs(media, max_hamming=4)

    q["multimodal_image_neardup"] = multimodal_image_neardup

    def multimodal_audio_neardup(spark, sf):
        """Near-duplicate audio detection: energy-profile dHash (gain-
        robust gradient bits over the pooled |samples| profile; fake
        backend = salt-7 md5 stream, SQL-reproducible) + the same
        lossless band-pigeonhole hamming search as the image path
        (multimodal.py audio_dhash / audio_near_dup_pairs)."""
        media = multimodal.attach_fake_media(load_table(spark, sf, "documents"))
        return multimodal.audio_near_dup_pairs(media, max_hamming=4)

    q["multimodal_audio_neardup"] = multimodal_audio_neardup

    def multimodal_image_stats(spark, sf):
        """Per-image luminance statistics + quality flags
        (operators/multimodal.py image_stats — the multimodal twin of
        the text quality signals): exact left-fold sum / sum-of-squares
        over the decoded feature row, min/max/dynamic-range,
        low-contrast and flat flags.  One Arrow decode pass, zero
        shuffle (the reduction is inside the row); with the fake
        backend every value is md5-reproducible, so the oracle checks
        the numbers, not the shape.  The real-PNG backend rides the
        same folds (golden-tested in tests/test_multimodal.py)."""
        media = multimodal.attach_fake_media(load_table(spark, sf, "documents"))
        return multimodal.image_stats(media)

    q["multimodal_image_stats"] = multimodal_image_stats

    # ---- expensive stochastic queries LAST (rows-only; a wall-clock-
    # budgeted driver run truncates here, not at hash-checked queries) ------
    _model_cache: dict[str, object] = {}

    def _trained_model(spark, sf):
        """Deterministic (seed+partitioning fixed) — safe to memoize for
        the three LDA gate queries instead of training three times."""
        if sf not in _model_cache:
            cfg = TrainConfig(
                num_topics=5, total_iterations=6, burn_in_iterations=3,
                seed=42, num_partitions=8,
            )
            _model_cache[sf] = train_documents(
                load_table(spark, sf, "documents"), cfg
            ).model
        return _model_cache[sf]

    def lda_train_topics(spark, sf):
        """Rows-only: Gibbs training is stochastic (seeded but not
        SQL-expressible); statistical oracles — likelihood ascent, topic
        recovery, count conservation — run in tests/test_train.py."""
        return _trained_model(spark, sf).describe_topics(spark, top_n=10)

    q["lda_train_topics"] = lda_train_topics

    def lda_infer_theta(spark, sf):
        """Rows-only: inference resamples topic assignments (stochastic
        Gibbs chain over a frozen model); OOV handling and model-DF
        equivalence are pytest-verified instead."""
        docs = load_table(spark, sf, "documents")
        triples = doc_term_counts(tokenize(docs.orderBy("doc_id").limit(50)))
        theta = lda_infer.transform(
            _trained_model(spark, sf), triples,
            total_iterations=5, burn_in_iterations=2, seed=7,
        )
        return theta.select(
            "doc_id", F.posexplode("topic_weights").alias("topic", "weight")
        )

    q["lda_infer_theta"] = lda_infer_theta

    def lda_topic_coherence(spark, sf):
        """Rows-only: UMass coherence is computed over the stochastic
        trained model's top words, so the values inherit the Gibbs
        chain's randomness; the metric itself is pytest-verified against
        a hand-computed fixture."""
        from plda_spark.lda.evaluate import umass_coherence

        top = _trained_model(spark, sf).describe_topics(spark, top_n=10)
        return umass_coherence(top, _corpus(spark, sf))

    q["lda_topic_coherence"] = lda_topic_coherence

    def stream_sessionize_stateful(spark, sf):
        """Real Structured Streaming run (availableNow) of the custom
        stateful sessionization operator, plus the state-store drain of
        still-open trailing sessions — together value-identical to the
        batch twin, so the DuckDB oracle hash-checks the whole stateful
        pipeline (applyInPandasWithState + state-store data source)."""
        import tempfile

        tmp = tempfile.mkdtemp(prefix="plda_stream_")
        events = load_table(spark, sf, "events")
        src = f"{tmp}/in"
        events.write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = f"{tmp}/out"
        ckpt = f"{tmp}/ckpt"
        windows.run_stream_available_now(windows.sessionize(stream), out, ckpt)
        emitted = spark.read.parquet(out)
        ntz = str(events.schema["ts"].dataType).startswith("TimestampNTZ")
        return emitted.unionByName(windows.open_sessions(spark, ckpt, ntz=ntz))

    q["stream_sessionize_stateful"] = stream_sessionize_stateful

    def source_jsonl_roundtrip(spark, sf):
        """JSONL sink → declared-schema PERMISSIVE reader round-trip (the
        LLM-corpus interchange connector), with one corrupt line planted
        to prove the quarantine path drops (and only drops) bad rows."""
        import tempfile

        from plda_spark.sources import jsonl

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "text", "lang", "source"
        )
        tmp = tempfile.mkdtemp(prefix="plda_jsonl_")
        lines = docs.select(
            F.to_json(F.struct("doc_id", "text", "lang", "source")).alias("value")
        )
        bad = spark.createDataFrame(
            [("{this is not json",)], "value string"
        )
        lines.unionAll(bad).coalesce(4).write.mode("overwrite").text(f"{tmp}/corpus")
        return jsonl.read_jsonl(spark, f"{tmp}/corpus")

    q["source_jsonl_roundtrip"] = source_jsonl_roundtrip

    # ---- relational surface: pivot / analytic windows / subqueries ---------

    def rel_pivot_daily_events(spark, sf):
        """Pivot (crosstab): events per day × type, one column per type.
        Pivot values are pinned literals so the plan is a single
        map-side-combinable aggregation (no distinct-values pre-scan)."""
        ev = load_table(spark, sf, "events")
        return (
            ev.groupBy(F.to_date("ts").alias("day"))
            .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
            .agg(F.count(F.lit(1)))
            .select(
                F.col("day").cast("string").alias("day"),
                *[
                    F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c}")
                    for c in ["click", "error", "purchase", "signup", "view"]
                ],
            )
        )

    q["rel_pivot_daily_events"] = rel_pivot_daily_events

    def rel_window_analytics(spark, sf):
        """Analytic window pack over per-customer order history: lag,
        lead, ntile, percent_rank, and a running decimal sum share ONE
        (custkey, orderdate) sort — one shuffle for all five."""
        orders = load_table(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        wr = w.rowsBetween(Window.unboundedPreceding, 0)
        price = F.col("o_totalprice").cast("decimal(18,6)")
        return orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.coalesce(F.lag(price).over(w), F.lit(0)).cast("double"), 2).alias("prev_price"),
            F.round(F.coalesce(F.lead(price).over(w), F.lit(0)).cast("double"), 2).alias("next_price"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.sum(price).over(wr).cast("double"), 2).alias("running_spend"),
        )

    q["rel_window_analytics"] = rel_window_analytics

    def rel_correlated_subquery(spark, sf):
        """Correlated scalar subquery: each customer's most expensive
        order (Catalyst rewrites the subquery to an aggregate + join)."""
        load_table(spark, sf, "orders").createOrReplaceTempView("__orders_v")
        load_table(spark, sf, "customer").createOrReplaceTempView("__customer_v")
        return spark.sql(
            """
            SELECT c.c_custkey, c.c_name,
                   (SELECT ROUND(MAX(o.o_totalprice), 2) FROM __orders_v o
                    WHERE o.o_custkey = c.c_custkey) AS max_order_price
            FROM __customer_v c
            WHERE (SELECT COUNT(*) FROM __orders_v o
                   WHERE o.o_custkey = c.c_custkey) >= 20
            """
        )

    q["rel_correlated_subquery"] = rel_correlated_subquery

    # ---- engine extensions: specialized joins ------------------------------

    def join_asof_purchase_view(spark, sf):
        """Backward as-of join (operators.joins.as_of_join): each purchase
        event picks the same user's latest view event at-or-before it.
        The right side is pre-deduped to one row per (user, ts) so the
        match is deterministic on both engines."""
        from plda_spark.operators import joins

        ev = load_table(spark, sf, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        views = (
            ev.where(F.col("event_type") == "view")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("view_id"))
        )
        return joins.as_of_join(purchases, views, on="user_id")

    q["join_asof"] = join_asof_purchase_view

    def join_asof_forward(spark, sf):
        """Forward as-of join: each purchase picks the same user's
        EARLIEST view at-or-after it (next-touch attribution)."""
        from plda_spark.operators import joins

        ev = load_table(spark, sf, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        views = (
            ev.where(F.col("event_type") == "view")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("view_id"))
        )
        return joins.as_of_join(purchases, views, on="user_id", direction="forward")

    q["join_asof_forward"] = join_asof_forward

    def join_range_buckets(spark, sf):
        """Binned point-in-interval join (operators.joins.range_join):
        order keys (mod 10000) land in overlapping supplier-derived
        intervals [s*100, s*100+150) — every point matches 1-2 intervals."""
        from plda_spark.operators import joins

        points = load_table(spark, sf, "orders").select(
            "o_orderkey", (F.col("o_orderkey") % 10000).alias("p")
        )
        intervals = load_table(spark, sf, "supplier").select(
            "s_suppkey",
            (F.col("s_suppkey") * 100).alias("lo"),
            (F.col("s_suppkey") * 100 + 150).alias("hi"),
        )
        return joins.range_join(points, intervals, "p", "lo", "hi", bin_width=128)

    q["join_range"] = join_range_buckets

    # ---- engine extensions: group statistics -------------------------------

    def stats_group_quantiles(spark, sf):
        from plda_spark.operators import stats

        qdf = stats.group_quantiles(
            load_table(spark, sf, "orders"), ["o_orderpriority"], "o_totalprice"
        )
        return qdf.select(
            "o_orderpriority",
            *[F.round(c, 2).alias(c) for c in ("q0_25", "q0_5", "q0_75")],
        )

    q["stats_group_quantiles"] = stats_group_quantiles

    def stats_corr_matrix(spark, sf):
        from plda_spark.operators import stats

        return stats.correlation_matrix(
            load_table(spark, sf, "lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        )

    q["stats_corr_matrix"] = stats_corr_matrix

    def stats_frequent_items(spark, sf):
        from plda_spark.operators import stats

        return stats.frequent_items(
            load_table(spark, sf, "events"), ["event_type"], "user_id", k=5
        )

    q["stats_frequent_items"] = stats_frequent_items

    # ---- engine extensions: curation ---------------------------------------

    def sample_stratified(spark, sf):
        """Per-stratum deterministic hash sampling (domain mixing)."""
        from plda_spark.operators.sampling import stratified_hash_sample

        docs = load_table(spark, sf, "documents").select("doc_id", "lang", "source")
        return stratified_hash_sample(
            docs, "source", {"src1": 100, "src2": 50, "src3": 10}, default_pct=25
        )

    q["sample_stratified"] = sample_stratified

    def dedup_contamination(spark, sf):
        """Benchmark n-gram overlap counts (test-set contamination scan);
        benchmark = every 97th doc (mod 97 == 3) as a stand-in eval set."""
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        bench = docs.where(F.col("doc_id") % 97 == 3)
        return dedup.contamination(docs, bench, n=5)

    q["dedup_contamination"] = dedup_contamination

    def dedup_decontaminate(spark, sf):
        """Training-corpus decontamination: drop docs sharing any 5-gram
        with the benchmark subset."""
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        bench = docs.where(F.col("doc_id") % 97 == 3)
        return dedup.decontaminate(docs, bench, n=5)

    q["dedup_decontaminate"] = dedup_decontaminate

    def curation_filters(spark, sf):
        """Filter-stack audit (operators.curation.apply_filters): per-rule
        rejection counts + marginal (sole-reject) counts + survivor row."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents")
        rules = [
            ("min_chars", F.col("n_chars") >= 200),
            ("english", F.col("lang") == "en"),
            ("has_alpha", F.col("text").rlike("[a-z]")),
        ]
        _, audit = curation.apply_filters(docs, rules)
        return audit

    q["curation_filters"] = curation_filters

    def classify_score(spark, sf):
        """Quality-classifier scoring path (operators.classify): sigmoid
        of a fixed linear model over per-doc features — the pure-JVM
        100 TB scoring pass (training is pytest-verified; weights here
        are pinned literals so both engines score identically)."""
        import numpy as np
        from plda_spark.operators import classify

        docs = load_table(spark, sf, "documents")
        w = np.array([-3.0, 0.01])
        return classify.logreg_score(
            docs.select("doc_id", "n_chars"), w, ["n_chars"]
        ).select("doc_id", "score")

    q["classify_score"] = classify_score

    def _scored_labeled(spark, sf):
        import numpy as np
        from plda_spark.operators import classify

        docs = load_table(spark, sf, "documents")
        return classify.logreg_score(
            docs.select("doc_id", "n_chars", "lang"),
            np.array([-3.0, 0.01]), ["n_chars"],
        ).withColumn("label", (F.col("lang") == "en").cast("int"))

    def classify_calibration(spark, sf):
        """Reliability diagram / Expected Calibration Error table
        (operators/classify.py calibration_report — Guo 2017): the
        pinned classifier's scores binned into 10 equal-width bins,
        per-bin confidence vs empirical 'en' accuracy and the weighted
        gap whose sum is the ECE.  ONE bin-keyed aggregation + a
        broadcast 1-row total."""
        from plda_spark.operators import classify

        return classify.calibration_report(
            _scored_labeled(spark, sf), "score", "label"
        )

    q["classify_calibration"] = classify_calibration

    def classify_lift(spark, sf):
        """Decile lift / cumulative-gain table
        (operators/classify.py lift_report): scores ntile'd into 10
        buckets (doc_id tie-break — a deterministic total order both
        engines replay), per-bucket positive rate, lift over base rate,
        cumulative gain.  The selection-policy audit for a quality
        classifier."""
        from plda_spark.operators import classify

        return classify.lift_report(
            _scored_labeled(spark, sf), "score", "label",
            tie_cols=["doc_id"],
        )

    q["classify_lift"] = classify_lift

    # ---- engine extensions: text quality -----------------------------------

    q["text_lm_score"] = lambda spark, sf: text.lm_score(
        load_table(spark, sf, "documents")
    )

    q["text_lm_score_kn"] = lambda spark, sf: text.lm_score_kn(
        load_table(spark, sf, "documents")
    )

    def text_dedup_paragraphs(spark, sf):
        """In-document repeated-paragraph removal on a corpus with planted
        boilerplate (doc_id % 3 == 0 repeats its body three times)."""
        docs = load_table(spark, sf, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat_ws("\n\n", "text", "text", "text"),
            )
            .otherwise(F.concat_ws("\n\n", "text", F.lit("unique tail")))
            .alias("text"),
        )
        return text.dedup_paragraphs(docs)

    q["text_dedup_paragraphs"] = text_dedup_paragraphs

    q["text_winnow"] = lambda spark, sf: text.winnow(
        load_table(spark, sf, "documents"), k=4, w=5
    )

    q["text_winnow_pairs"] = lambda spark, sf: text.winnow_pairs(
        _docs_with_dupes(spark, sf), k=4, w=5, min_shared=2
    )

    def text_redact_pii(spark, sf):
        """PII redaction over a corpus with planted emails/IPs/phones
        (doc_id % 7 == 0): tag replacement + per-doc scrub counts."""
        docs = load_table(spark, sf, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.org or 10.1.2.3 tel +1 555-000-1234"),
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return text.redact_pii(docs)

    q["text_redact_pii"] = text_redact_pii

    def dedup_keep_best_q(spark, sf):
        """Priority-aware exact dedup: keep the HIGHEST doc_id copy of
        each exact-text group (proves the resolution is the ordering,
        not min-id) via the map-side-combined struct-min plan."""
        docs = _docs_with_dupes(spark, sf)
        return dedup.keep_best(docs, [-F.col("doc_id")])

    q["dedup_keep_best"] = dedup_keep_best_q

    def dedup_spans_q(spark, sf):
        """Sub-document exact span dedup (Lee et al. 2022 granularity):
        10-token spans over the planted-dup corpus — full copies lose
        every span, 80%-prefix copies lose their shared leading spans."""
        return dedup.dedup_spans(_docs_with_dupes(spark, sf), span_tokens=10)

    q["dedup_spans"] = dedup_spans_q

    def dedup_longest_spans_q(spark, sf):
        """Longest-match substring dedup (operators/dedup.py
        dedup_longest_spans): the doubling digest ladder over the
        same planted-dup corpus — the full copies collapse to ONE
        maximal removed region per doc (the largest aligned complete
        block) instead of per-10-token-chunk decisions, while the
        kept chunk set stays identical to dedup_spans."""
        return dedup.dedup_longest_spans(
            _docs_with_dupes(spark, sf), span_tokens=10, max_doublings=4
        )

    q["dedup_longest_spans"] = dedup_longest_spans_q

    def dedup_cross(spark, sf):
        """Cross-corpus near-dup dedup (operators.dedup.cross_dedup):
        the planted 80%-prefix copies are the "new crawl", the original
        documents the reference corpus — survivors are the prefix docs
        whose LSH band buckets miss every original."""
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        out = dedup.cross_dedup(_prefix_copies(docs), docs)
        return out.select("doc_id", F.md5("text").alias("text_digest"))

    q["dedup_cross"] = dedup_cross

    def layout_hilbert(spark, sf):
        """2-D Hilbert indices for the same layout key (sources.zorder.
        hilbert_value_col) — the locality-superior clustering curve
        (consecutive indices are ALWAYS adjacent cells; Morton jumps
        diagonals at quadrant boundaries).  The published xy→d
        rotate/flip walk unrolled into 8 static JVM levels; the oracle
        unrolls the identical levels as chained CTEs, so every index is
        verified bit-for-bit."""
        from plda_spark.sources.zorder import hilbert_value_col

        o = load_table(spark, sf, "orders").select(
            "o_orderkey",
            (F.col("o_custkey") % 256).alias("x"),
            (F.col("o_orderkey") % 256).alias("y"),
        )
        return o.select(
            "o_orderkey", "x", "y",
            hilbert_value_col("x", "y", bits=8).alias("hvalue"),
        )

    q["layout_hilbert"] = layout_hilbert

    def layout_zorder(spark, sf):
        """Morton z-values for a two-column layout key (sources.zorder):
        the interleave the z-ordered writer clusters files by, verified
        bit-for-bit against integer arithmetic in SQL."""
        from plda_spark.sources.zorder import zvalue_col

        o = load_table(spark, sf, "orders").select(
            "o_orderkey",
            (F.col("o_custkey") % 256).alias("x"),
            (F.col("o_orderkey") % 256).alias("y"),
        )
        return o.select(
            "o_orderkey", "x", "y", zvalue_col(["x", "y"], bits=8).alias("zvalue")
        )

    q["layout_zorder"] = layout_zorder

    def layout_compact(spark, sf):
        """Small-file compaction round-trip (sources.compact): the
        documents table scattered across 64 tiny files, bin-packed back
        to ~one target-size file in ONE listing pass + ONE round-robin
        shuffle, content recovered row-for-row (the lake-maintenance
        operation every streaming ingest eventually needs)."""
        import tempfile

        from plda_spark.sources import compact

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        tmp = tempfile.mkdtemp(prefix="plda_compact_")
        docs.repartition(64).write.mode("overwrite").parquet(f"{tmp}/small")
        compact.compact_parquet(
            spark, f"{tmp}/small", f"{tmp}/packed", target_file_bytes=1 << 40
        )
        return spark.read.parquet(f"{tmp}/packed")

    q["layout_compact"] = layout_compact

    # ---- engine extensions: embedding clustering ---------------------------

    def ml_kmeans_assign(spark, sf):
        """Nearest-centroid assignment (operators.similarity.kmeans_assign)
        against pinned centroids (the embeddings of vec_id 0..7), so the
        Arrow-matmul scoring path is hash-checked; the iterative fit is
        pytest-verified (test_similarity)."""
        import numpy as np

        emb = load_table(spark, sf, "embeddings")
        cents = np.stack(
            [
                np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
            ]
        )
        return similarity.kmeans_assign(emb, cents)

    q["ml_kmeans_assign"] = ml_kmeans_assign

    # ---- engine extensions round 3: retrieval / profiling / graph ----------

    def text_bm25(spark, sf):
        """Okapi BM25 of a fixed 4-term query against the corpus
        (operators.text.bm25_score): per-term tf as pure array
        expressions, corpus stats via one broadcast 1-row aggregate."""
        return text.bm25_score(
            load_table(spark, sf, "documents"), ["join", "table", "group", "vector"]
        )

    q["text_bm25"] = text_bm25

    def stats_profile_columns(spark, sf):
        """Numeric column profiling (operators.stats.profile_columns)
        over lineitem's measures — one agg job, stack unpivot."""
        from plda_spark.operators import stats

        return stats.profile_columns(
            load_table(spark, sf, "lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        )

    q["stats_profile_columns"] = stats_profile_columns

    def stats_rolling_daily(spark, sf):
        """Trailing-7-day per-user activity (RANGE-frame rolling window
        over pre-aggregated key-days)."""
        from plda_spark.operators import stats

        return stats.rolling_daily_counts(
            load_table(spark, sf, "events"), "user_id", "ts", days=7
        )

    q["stats_rolling_daily"] = stats_rolling_daily

    def graph_pagerank(spark, sf):
        """PageRank, 3 power iterations at d=0.85
        (operators.graph.pagerank), over a deterministic synthetic link
        graph derived from orders (custkey%100 → orderkey%100); the
        DuckDB oracle unrolls the identical iterations as chained CTEs."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        r = graph.pagerank(e, n_iter=3, damping=0.85)
        return r.select("node", F.round("rank", 6).alias("rank"))

    q["graph_pagerank"] = graph_pagerank

    def graph_ppr(spark, sf):
        """PERSONALIZED PageRank (operators.graph.personalized_pagerank
        — Page et al. 1999 §6 topic-sensitive restart), 3 power
        iterations at d=0.85 restarting at seeds {0,1,2}, over the same
        synthetic link graph as graph_pagerank; the oracle unrolls the
        identical iterations with the seed-concentrated restart
        vector."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        r = graph.personalized_pagerank(e, seeds=[0, 1, 2], n_iter=3,
                                        damping=0.85)
        return r.select("node", F.round("rank", 6).alias("rank"))

    q["graph_ppr"] = graph_ppr

    def graph_lpa(spark, sf):
        """Deterministic synchronous label-propagation communities
        (operators/graph.py label_propagation — Raghavan 2007 with a
        smallest-label tie-break so runs are engine-replayable), 2
        rounds over a planted-block link graph (custkey%200 wired to
        its 10-node block by orderkey%10): LPA must recover the 20
        blocks.  Per round ONE edge-label join + one count + one
        per-node top-1 window; the oracle unrolls identical rounds."""
        from plda_spark.operators import graph

        orders = load_table(spark, sf, "orders")
        src = F.col("o_custkey") % 200
        e = (
            orders.select(
                src.alias("src"),
                (src - src % 10 + F.col("o_orderkey") % 10).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        return graph.label_propagation(e, n_iter=2)

    q["graph_lpa"] = graph_lpa

    def graph_link_prediction(spark, sf):
        """Common-neighbors / Jaccard / Adamic-Adar link prediction
        (operators/graph.py link_prediction — Liben-Nowell & Kleinberg
        2003): top-100 non-adjacent distance-2 pairs of the synthetic
        link graph by (cn desc, u, v) total order.  One degree-capped
        wedge self-join + one (u,v) aggregation + anti-join against
        the edge set; the top-k is a distributed TakeOrdered."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 400)
        return graph.link_prediction(e, max_degree=1000, top_k=100)

    q["graph_link_prediction"] = graph_link_prediction

    def events_markov_attribution(spark, sf):
        """Markov-chain removal-effect attribution (operators/events.py
        markov_attribution — Anderl et al. 2016, the data-driven
        counterweight to the rule-based first/last/U-shaped models):
        per-user journeys START→touches→CONV|NULL, a first-order
        transition matrix, 25 synchronous value iterations for the
        absorption probability, and per-channel credit from how much
        conversion probability drops when the channel's inbound edges
        redirect to NULL.  Corpus-scale work is ONE per-user window +
        ONE transition count; the iterations run on the tiny
        variant-transition table (the oracle unrolls the identical 25
        iterations as chained CTEs)."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.markov_attribution(
            load_table(spark, sf, "events"), n_iter=25
        )

    q["events_markov_attribution"] = events_markov_attribution

    def source_csv_roundtrip(spark, sf):
        """CSV sink → declared-schema PERMISSIVE reader round-trip with
        one malformed row planted (wrong arity + bad cast) to prove the
        quarantine drops (and only drops) bad rows.  Quoted fields
        exercise RFC-4180 escaping through the writer→reader seam."""
        import tempfile

        from plda_spark.sources import csv as csv_src

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "text", "lang", "source"
        )
        tmp = tempfile.mkdtemp(prefix="plda_csv_")
        csv_src.write_csv(docs, f"{tmp}/corpus")
        bad = spark.createDataFrame(
            [("not_a_long,oops", ), ], "value string"
        )
        bad.write.mode("append").text(f"{tmp}/corpus")
        return csv_src.read_csv(spark, f"{tmp}/corpus")

    q["source_csv_roundtrip"] = source_csv_roundtrip

    def source_wet_roundtrip(spark, sf):
        """Common Crawl WARC/WET connector round-trip: render the
        documents table as gzip WET shards (Content-Length = UTF-8
        octets), read them back with the Content-Length-exact record
        walker (one task per shard — the Common Crawl parallelism
        model), and recover every document byte-for-byte."""
        import tempfile

        from plda_spark.sources import wet

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        tmp = tempfile.mkdtemp(prefix="plda_wet_")
        wet.write_wet(docs, f"{tmp}/shards", compress=True)
        back = wet.read_wet(spark, f"{tmp}/shards")
        return back.select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
            F.col("content_length"),
            "text",
        )

    q["source_wet_roundtrip"] = source_wet_roundtrip

    def stream_wet_ingest(spark, sf):
        """Batch demonstration of the streaming crawl-ingest pipeline
        (sources.wet.read_wet_stream → incremental_exact_dedup, tested
        end-to-end with checkpointed exactly-once semantics in
        tests/test_streaming.py): two WET dumps — the second a full
        duplicate crawl of the first under new URLs — parsed and
        exact-deduped down to one record per distinct text, keeping the
        lowest NUMERIC doc id here so the oracle is engine-exact.  (The
        streaming ledger's representative is the MIN over its id column
        — lexicographic for string URLs — so the kept-row tiebreak can
        differ when both dumps share one micro-batch; the dedup set is
        identical either way.)"""
        import tempfile

        from plda_spark.sources import wet

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        tmp = tempfile.mkdtemp(prefix="plda_wetstream_")
        wet.write_wet(docs, f"{tmp}/dump1", compress=True)
        wet.write_wet(
            docs.withColumn("doc_id", F.col("doc_id") + 1_000_000),
            f"{tmp}/dump2",
            compress=True,
        )
        back = wet.read_wet(spark, f"{tmp}/dump*")
        ids = back.select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
            "text",
        )
        return ids.groupBy("text").agg(F.min("doc_id").alias("doc_id"))

    q["stream_wet_ingest"] = stream_wet_ingest

    def source_warc_roundtrip(spark, sf):
        """Raw WARC (HTML) connector round-trip: render each document
        as an HTML page (entity-escaped body, a script subtree the
        extractor must drop) inside gzip WARC ``response`` records
        (sources/warc.py — the step BEFORE WET in a Common Crawl
        pipeline), read them back with the shared Content-Length-exact
        record walker, and recover every document's text exactly via
        the dependency-free HTML→text extractor."""
        import tempfile

        from plda_spark.sources import warc

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        esc = F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                F.lit("<"), F.lit("&lt;"),
            ),
            F.lit(">"), F.lit("&gt;"),
        )
        pages = docs.select(
            "doc_id",
            F.concat(
                F.lit("<html><head><script>var x = 1 < 2;</script></head>"
                      "<body><p>"),
                esc,
                F.lit("</p></body></html>"),
            ).alias("html"),
        )
        tmp = tempfile.mkdtemp(prefix="plda_warc_")
        warc.write_warc(pages, f"{tmp}/shards", compress=True)
        back = warc.read_warc(spark, f"{tmp}/shards")
        return warc.extract_html_text(back).select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
            F.col("http_status"),
            "text",
        )

    q["source_warc_roundtrip"] = source_warc_roundtrip

    def source_snapshot_roundtrip(spark, sf):
        """Transactional snapshot-table round-trip (sources/snapshot.py
        — the Iceberg/Delta manifest design over plain parquet): commit
        the even documents (overwrite), append the odds as a second
        atomic manifest version (prior files carried by reference, zero
        data copied), read the LATEST snapshot — every row recovered
        exactly once.  Version 0 stays readable (time travel) and the
        commit point is an atomic no-clobber manifest rename, both
        pinned in tests/test_snapshot.py."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
        tmp = tempfile.mkdtemp(prefix="plda_snap_")
        path = f"{tmp}/tbl"
        snap.snapshot_write(
            docs.where(F.col("doc_id") % 2 == 0), path,
            mode="overwrite", stats_cols=["doc_id"],
        )
        snap.snapshot_write(docs.where(F.col("doc_id") % 2 == 1), path, mode="append")
        return snap.snapshot_read(spark, path)

    q["source_snapshot_roundtrip"] = source_snapshot_roundtrip

    def source_snapshot_rollback(spark, sf):
        """Delta-RESTORE rollback on the snapshot table
        (sources/snapshot.py snapshot_rollback): commit the even
        documents, append the odds, range-delete a slice — then roll
        back to version 0 as a NEW head whose file list is copied by
        reference (O(manifest), zero data movement; bad versions stay
        time-travel-readable until vacuum).  The read of the restored
        head must equal exactly the even documents."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
        tmp = tempfile.mkdtemp(prefix="plda_snap_")
        path = f"{tmp}/tbl"
        snap.snapshot_write(
            docs.where(F.col("doc_id") % 2 == 0), path,
            mode="overwrite", stats_cols=["doc_id"],
        )
        snap.snapshot_write(docs.where(F.col("doc_id") % 2 == 1), path, mode="append")
        snap.snapshot_delete(spark, path, "doc_id", 0, 1000)
        snap.snapshot_rollback(spark, path, version=0)
        return snap.snapshot_read(spark, path)

    q["source_snapshot_rollback"] = source_snapshot_rollback

    def source_snapshot_optimize(spark, sf):
        """OPTIMIZE ZORDER as a snapshot maintenance action
        (sources/snapshot.py snapshot_optimize_zorder — the Delta
        OPTIMIZE / Iceberg sort-rewrite): commit documents scattered by
        a text hash (every file's doc_id range covers everything), then
        rewrite clustered on (doc_id, n_chars) in one atomic commit —
        pending deletes materialize, the zorder columns join
        stats_cols, and range scans prune files they couldn't before
        (pruning delta pinned in tests/test_snapshot.py).  The read
        back must be exactly the committed rows."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        tmp = tempfile.mkdtemp(prefix="plda_snap_")
        path = f"{tmp}/tbl"
        snap.snapshot_write(
            docs.repartition(8, F.col("lang")), path,
            mode="overwrite", stats_cols=["doc_id"],
        )
        snap.snapshot_optimize_zorder(
            spark, path, ["doc_id", "n_chars"], num_files=8
        )
        return snap.snapshot_read(spark, path)

    q["source_snapshot_optimize"] = source_snapshot_optimize

    def source_snapshot_merge(spark, sf):
        """Stats-pruned copy-on-write MERGE (upsert) on the snapshot
        table: base = orders clustered on o_orderkey so per-file key
        ranges are tight; updates double o_totalprice for keys % 97 == 0
        and insert shifted new keys for % 101 == 0.  Files whose
        manifest key range holds no updated key are carried into the
        new version BY REFERENCE (the O(affected-files) upsert a 100 TB
        table needs — pinned in tests/test_snapshot.py); the merged
        result is verified row-for-row against the CASE/UNION SQL
        equivalent."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tmp = tempfile.mkdtemp(prefix="plda_snapm_")
        path = f"{tmp}/tbl"
        base = orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        )
        snap.snapshot_write(base, path, mode="overwrite", stats_cols=["o_orderkey"])
        updates = (
            orders.where(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .unionByName(
                orders.where(F.col("o_orderkey") % 101 == 0).select(
                    (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                    "o_custkey",
                    "o_totalprice",
                )
            )
        )
        snap.snapshot_merge(spark, path, updates, key="o_orderkey")
        return snap.snapshot_read(spark, path)

    q["source_snapshot_merge"] = source_snapshot_merge

    def source_snapshot_delete_keys(spark, sf):
        """MERGE-ON-READ equality deletes (Iceberg v2 shape,
        sources/snapshot.py snapshot_delete_keys): takedown of keys
        % 13 == 0 writes ONE kB-sized delete file — zero data files
        touched — then a re-crawl append re-inserts half of them (%26
        == 0) with doubled price; per-entry sequence numbers keep the
        delete from touching the younger generation.  The read is the
        merge-on-read anti-join; materialize_deletes then rewrites
        (stats-pruned) and the result must be read-identical — both
        states hash against the same SQL."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tmp = tempfile.mkdtemp(prefix="plda_snapdk_")
        path = f"{tmp}/tbl"
        base = orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        )
        snap.snapshot_write(base, path, mode="overwrite", stats_cols=["o_orderkey"])
        gone = orders.where(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
        snap.snapshot_delete_keys(spark, path, gone, "o_orderkey")
        recrawl = orders.where(F.col("o_orderkey") % 26 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        snap.snapshot_write(recrawl, path, mode="append")
        mor = snap.snapshot_read(spark, path)
        snap.snapshot_materialize_deletes(spark, path)
        materialized = snap.snapshot_read(spark, path)
        # both reads must agree with the oracle — union tags them
        return mor.select(F.lit("mor").alias("state"), "*").unionByName(
            materialized.select(F.lit("materialized").alias("state"), "*")
        )

    q["source_snapshot_delete_keys"] = source_snapshot_delete_keys

    def stream_snapshot_takedown(spark, sf):
        """Batch demonstration of the exactly-once streaming takedown
        sink (sources/snapshot.py snapshot_delete_keys_batch — the
        foreachBatch callable itself, driven here with explicit batch
        ids; the true readStream path incl. checkpoint replay is gated
        in tests/test_snapshot.py): two takedown micro-batches land as
        MoR delete commits, a REPLAY of batch 0 is a ledger no-op, and
        a re-crawl appended after both deletes survives them
        (sequence-number generation safety) — the final table hashes
        against plain survivor SQL."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tmp = tempfile.mkdtemp(prefix="plda_snaptd_")
        path = f"{tmp}/tbl"
        snap.snapshot_write(
            orders.repartitionByRange(8, "o_orderkey"),
            path, mode="overwrite", stats_cols=["o_orderkey"],
        )
        b0 = orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
        b1 = orders.where(F.col("o_orderkey") % 11 == 0).select("o_orderkey")
        snap.snapshot_delete_keys_batch(b0, path, "o_orderkey", "takedown", 0)
        snap.snapshot_delete_keys_batch(b1, path, "o_orderkey", "takedown", 1)
        # crash-replay of batch 0: the ledger must make it a no-op (a
        # real raise, not an assert — python -O must not skip the check)
        if snap.snapshot_delete_keys_batch(
            b0, path, "o_orderkey", "takedown", 0
        ) is not None:
            raise RuntimeError("replayed takedown batch was not a no-op")
        recrawl = orders.where(F.col("o_orderkey") % 14 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        snap.snapshot_write(recrawl, path, mode="append")
        return snap.snapshot_read(spark, path)

    q["stream_snapshot_takedown"] = stream_snapshot_takedown

    def source_snapshot_changes(spark, sf):
        """CDC read over the snapshot table (sources/snapshot.py
        snapshot_changes): three commits land documents in doc_id%3
        thirds; the changes-since-v0 read returns exactly the two
        appended thirds, scanning ONLY the two new commit directories
        (immutable files + by-reference appends make the delta a
        manifest file-list diff — the base table is never re-read).
        Non-append windows raise, pinned in tests/test_snapshot.py."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
        tmp = tempfile.mkdtemp(prefix="plda_snapc_")
        path = f"{tmp}/tbl"
        snap.snapshot_write(
            docs.where(F.col("doc_id") % 3 == 0), path,
            mode="overwrite", stats_cols=["doc_id"],
        )
        snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 1), path, mode="append")
        snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 2), path, mode="append")
        return snap.snapshot_changes(spark, path, since_version=0)

    q["source_snapshot_changes"] = source_snapshot_changes

    def pipeline_snapshot_incr_agg(spark, sf):
        """Incrementally-maintained materialized aggregate
        (sources/snapshot.py snapshot_refresh_agg): per-lang doc count +
        total text chars, refreshed after each of three appends.  Each
        refresh aggregates ONLY the rows appended since the last one
        (snapshot_changes reads just the new commit dirs) and folds the
        partials into the existing per-group rows — O(|groups|), never a
        rescan of the fact table.  The folded result is hash-verified
        against the one-shot GROUP BY over everything."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
        tmp = tempfile.mkdtemp(prefix="plda_snapa_")
        src, agg = f"{tmp}/src", f"{tmp}/agg"
        spec = (["lang"], {"chars": "length(text)"})
        snap.snapshot_write(
            docs.where(F.col("doc_id") % 3 == 0), src,
            mode="overwrite", stats_cols=["doc_id"],
        )
        snap.snapshot_refresh_agg(spark, src, agg, *spec)
        snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 1), src, mode="append")
        snap.snapshot_refresh_agg(spark, src, agg, *spec)
        snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 2), src, mode="append")
        snap.snapshot_refresh_agg(spark, src, agg, *spec)
        return snap.snapshot_read(spark, agg)

    q["pipeline_snapshot_incr_agg"] = pipeline_snapshot_incr_agg

    def source_snapshot_evolution(spark, sf):
        """Append-time schema evolution on the snapshot table: v0 holds
        (doc_id, lang) for even docs; the append adds a `chars` column
        for odd docs.  The table schema becomes the column union and
        old files null-fill the new column on read — zero rewrites
        (parquet matches columns by name against the manifest schema).
        Type changes are refused, pinned in tests/test_snapshot.py."""
        import tempfile

        from plda_spark.sources import snapshot as snap

        docs = load_table(spark, sf, "documents")
        tmp = tempfile.mkdtemp(prefix="plda_snape_")
        path = f"{tmp}/tbl"
        snap.snapshot_write(
            docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang"),
            path, mode="overwrite", stats_cols=["doc_id"],
        )
        snap.snapshot_write(
            docs.where(F.col("doc_id") % 2 == 1).select(
                "doc_id", "lang", F.length("text").alias("chars")
            ),
            path, mode="append",
        )
        return snap.snapshot_read(spark, path)

    q["source_snapshot_evolution"] = source_snapshot_evolution

    def stream_warc_ingest(spark, sf):
        """Batch demonstration of the raw-HTML crawl-ingest pipeline
        (sources.warc.read_warc_stream → extract_html_text →
        incremental_exact_dedup, tested end-to-end with checkpointed
        exactly-once semantics in tests/test_streaming.py): two WARC
        dumps — the second a full duplicate crawl of the first under
        new URLs — parsed, text-extracted, and exact-deduped down to
        one record per distinct text, keeping the lowest numeric id."""
        import tempfile

        from plda_spark.sources import warc

        pages = load_table(spark, sf, "documents").select(
            "doc_id",
            F.concat(
                F.lit("<html><body><p>"),
                F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                F.lit("</p></body></html>"),
            ).alias("html"),
        )
        tmp = tempfile.mkdtemp(prefix="plda_warcstream_")
        warc.write_warc(pages, f"{tmp}/dump1", compress=True)
        warc.write_warc(
            pages.withColumn("doc_id", F.col("doc_id") + 1_000_000),
            f"{tmp}/dump2",
            compress=True,
        )
        back = warc.extract_html_text(warc.read_warc(spark, f"{tmp}/dump*"))
        ids = back.select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
            "text",
        )
        return ids.groupBy("text").agg(F.min("doc_id").alias("doc_id"))

    q["stream_warc_ingest"] = stream_warc_ingest

    def web_boilerplate_extract(spark, sf):
        """Main-content extraction from raw HTML (sources.warc.
        drop_boilerplate): each document wrapped in a realistic page —
        link-dense navigation, the body paragraph, a link-dense footer
        — then decomposed into blocks (one Arrow pass), chrome dropped
        by link density (the jusText signal), and the survivors
        reassembled in document order.  Recovering exactly the body
        text proves the block decomposition, the per-block link
        counting, and the order-preserving reassembly end-to-end."""
        from plda_spark.sources import warc

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        esc = F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                F.lit("<"), F.lit("&lt;"),
            ),
            F.lit(">"), F.lit("&gt;"),
        )
        pages = docs.select(
            "doc_id",
            F.concat(
                F.lit('<html><head><script>nav()</script></head><body>'
                      '<ul><li><a href="/">Home</a></li>'
                      '<li><a href="/about">About us</a></li></ul><p>'),
                esc,
                F.lit('</p><div><a href="/p">Privacy</a> '
                      '<a href="/t">Terms</a></div></body></html>'),
            ).alias("html"),
        )
        return warc.drop_boilerplate(pages, id_col="doc_id")

    q["web_boilerplate_extract"] = web_boilerplate_extract

    def web_domain_filter(spark, sf):
        """UT1-style domain blocklist gate (operators.web.domain_filter):
        every 5th document lands under a (subdomain of a) blocked
        domain; the filter must drop exactly those via the suffix-chain
        equi-join against the broadcast list — one entry covers every
        subdomain, and label boundaries are respected (nottracker.net
        never matches tracker.net)."""
        from plda_spark.operators import web

        docs = load_table(spark, sf, "documents").select("doc_id", "source")
        url = F.concat(
            F.lit("https://"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("ads."), F.col("source"), F.lit(".tracker.net")),
            ).otherwise(F.concat(F.col("source"), F.lit(".example.com"))),
            F.lit("/docs/"),
            F.col("doc_id").cast("string"),
        )
        pages = docs.select("doc_id", url.alias("url"))
        return web.domain_filter(pages, ["tracker.net"]).select("doc_id", "url")

    q["web_domain_filter"] = web_domain_filter

    def web_frontier_schedule(spark, sf):
        """Politeness-aware crawl-frontier scheduling
        (operators/web.py frontier_schedule): synthetic per-document
        URLs spread over source x (doc_id % 7) hosts, served
        longest-document-first within each host, one fetch slot per
        0.5 s per host, per-host budget 100.  ONE host-keyed window —
        hosts are the frontier's natural partition key, so there is no
        global sort; the budget knob bounds giant-host skew."""
        from plda_spark.operators import web

        docs = load_table(spark, sf, "documents")
        urls = docs.select(
            F.concat(
                F.lit("http://"),
                F.col("source"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com/docs/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.col("n_chars").alias("priority"),
        )
        return web.frontier_schedule(
            urls,
            priority_col="priority",
            per_host_delay_s=0.5,
            max_per_host=100,
        )

    q["web_frontier_schedule"] = web_frontier_schedule

    def text_split_sentences(spark, sf):
        """Sentence segmentation (operators.text.split_sentences) over
        documents given deterministic synthetic boundaries (every
        ' the ' becomes '. The ', a literal replace both engines share):
        one row per sentence with its in-document index — the unit
        sentence-level dedup and packing consume.  Replace-then-split
        on an injected record separator because RE2-family engines
        (the oracle included) have no lookbehind."""
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        marked = docs.select(
            "doc_id",
            F.replace(F.col("text"), F.lit(" the "), F.lit(". The ")).alias("text"),
        )
        return text.split_sentences(marked)

    q["text_split_sentences"] = text_split_sentences

    def dedup_sentences_global(spark, sf):
        """CCNet-style cross-corpus sentence dedup (operators.dedup.
        dedup_sentences) over documents with synthesized sentence
        boundaries: every sentence keeps only its first global
        occurrence (min (doc_id, sent_idx) — the boilerplate killer for
        banners/footers repeating verbatim across pages), survivors
        reassembled in document order.  One digest-keyed arg-min
        aggregation + one equi-join; no windows."""
        from plda_spark.operators import dedup as dd

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        marked = docs.select(
            "doc_id",
            F.replace(F.col("text"), F.lit(" the "), F.lit(". The ")).alias("text"),
        )
        return dd.dedup_sentences(marked)

    q["dedup_sentences_global"] = dedup_sentences_global

    def pipeline_crawl_to_corpus(spark, sf):
        """The whole raw-crawl ingest pipeline END TO END, hash-verified:
        documents wrapped in chrome-laden HTML pages, crawled TWICE (the
        second dump under new URLs — the recrawl pattern), written as
        gzip WARC response shards, read back with the Content-Length
        walker, boilerplate-stripped by link density, exact-deduped down
        to the first-crawled copy, and token-profiled.  Because every
        stage is exact (escape/unescape identity, chrome fully link-
        dense, dup texts byte-identical), the end-to-end oracle is just
        token stats over the original table — the strongest composition
        guarantee the registry offers."""
        import tempfile

        from plda_spark.operators import dedup as dd
        from plda_spark.sources import warc

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        esc = F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                F.lit("<"), F.lit("&lt;"),
            ),
            F.lit(">"), F.lit("&gt;"),
        )
        pages = docs.select(
            "doc_id",
            F.concat(
                F.lit('<html><body><ul><li><a href="/">Home</a></li></ul><p>'),
                esc,
                F.lit('</p><div><a href="/p">Privacy</a> '
                      '<a href="/t">Terms</a></div></body></html>'),
            ).alias("html"),
        )
        tmp = tempfile.mkdtemp(prefix="plda_crawlpipe_")
        warc.write_warc(pages, f"{tmp}/dump1", compress=True)
        warc.write_warc(
            pages.withColumn("doc_id", F.col("doc_id") + 1_000_000),
            f"{tmp}/dump2",
            compress=True,
        )
        back = warc.read_warc(spark, f"{tmp}/dump*")
        main = warc.drop_boilerplate(back).select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
            "text",
        )
        deduped = dd.exact_dedup(main)
        return text.token_stats(deduped)

    q["pipeline_crawl_to_corpus"] = pipeline_crawl_to_corpus

    def text_normalize_nfc(spark, sf):
        """Unicode NFC normalization (operators.text.normalize_unicode)
        over documents with synthesized decomposed sequences: every 'a'
        gains a combining acute (U+0301) — the canonicalization stage
        multilingual dedup needs, since decomposed and precomposed forms
        hash differently.  Verified against DuckDB's nfc_normalize."""
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        marked = docs.select(
            "doc_id",
            F.replace(
                F.col("text"), F.lit("a"), F.concat(F.lit("a"), F.lit("\u0301"))
            ).alias("text"),
        )
        return text.normalize_unicode(marked, form="NFC")

    q["text_normalize_nfc"] = text_normalize_nfc

    def stats_hist_range(spark, sf):
        """Histogram-rollup range quantiles (stats.hist_daily_sketches +
        hist_quantile_range): per-day equi-width arrays materialized
        once, then p10/p50/p90 of events.value over a mid-month span
        read from the MERGED arrays (histogram merging is lossless, so
        the only error is bin discretization — replayed exactly by the
        oracle's direct binning of the same span)."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        roll = stats.hist_daily_sketches(ev, "value", 0.0, 500.0, 100)
        return stats.hist_quantile_range(
            roll, [0.1, 0.5, 0.9], 0.0, 500.0, "2024-01-08", "2024-01-21"
        )

    q["stats_hist_range"] = stats_hist_range

    def sample_weighted(spark, sf):
        """Efraimidis-Spirakis weighted sampling without replacement
        (operators.sampling.weighted_sample_per_group): exactly 50 docs
        per source with inclusion probability tracking document length
        — the quality-weighted subsampling primitive.  The ln(u)/w key
        is a pure function of (seed, doc_id, weight), so the oracle
        replays the identical sample row-for-row."""
        from plda_spark.operators.sampling import weighted_sample_per_group

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "source", "n_chars"
        )
        return weighted_sample_per_group(docs, "source", 50, "n_chars").select(
            "doc_id", "source", "sample_rank"
        )

    q["sample_weighted"] = sample_weighted

    def join_interval_overlap(spark, sf):
        """Interval-overlap join (operators.joins.interval_overlap_join)
        over intervals synthesized from orders: bin-exploded candidates
        joined on the bin key, each pair emitted only in its canonical
        (overlap-start) bin — duplicate-free with NO distinct, never a
        nested-loop.  Overlap length reported per pair."""
        from plda_spark.operators import joins

        o = load_table(spark, sf, "orders")
        lft = o.where(F.col("o_orderkey") % 7 == 0).select(
            F.col("o_orderkey").alias("lid"),
            (F.col("o_custkey") % 2000).alias("ls"),
            (F.col("o_custkey") % 2000 + F.col("o_orderkey") % 25 + 1).alias("le"),
        )
        rgt = o.where(F.col("o_orderkey") % 11 == 0).select(
            F.col("o_orderkey").alias("rid"),
            (F.col("o_custkey") % 2000 + 5).alias("rs"),
            (F.col("o_custkey") % 2000 + F.col("o_orderkey") % 40 + 6).alias("re"),
        )
        out = joins.interval_overlap_join(lft, rgt, "ls", "le", "rs", "re", 16)
        return out.select(
            "lid",
            "rid",
            (F.least(F.col("le"), F.col("re"))
             - F.greatest(F.col("ls"), F.col("rs"))).alias("overlap"),
        )

    q["join_interval_overlap"] = join_interval_overlap

    def sample_leakage_safe_split(spark, sf):
        """Leakage-safe train/val/test split (operators.sampling.
        leakage_safe_split): hash-bucket split, then every train row
        whose exact text also lands in val/test is QUARANTINED as
        train_leaked instead of silently training on eval text — the
        duplicated synthetic corpus (two crawls of each doc under
        different ids) guarantees cross-split collisions to catch."""
        from plda_spark.operators.sampling import leakage_safe_split

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        dup = docs.unionByName(
            docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        )
        return leakage_safe_split(dup).groupBy("split").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("text").alias("n_texts"),
        )

    q["sample_leakage_safe_split"] = sample_leakage_safe_split

    def sample_contrastive_negs(spark, sf):
        """Deterministic contrastive negative sampling (operators.
        sampling.contrastive_negatives): 2 pseudo-random negatives per
        document — rows hashed into 16 groups, ranked by a second md5,
        negatives at deterministic offsets within the group (never
        itself, no cross join, no global sort; the distributed analog
        of in-batch negatives).  Every decision is md5(seed:id[:slot]),
        so DuckDB replays it exactly."""
        from plda_spark.operators.sampling import contrastive_negatives

        docs = load_table(spark, sf, "documents").select("doc_id")
        return contrastive_negatives(docs, "doc_id", k=2, buckets=16, seed=7)

    q["sample_contrastive_negs"] = sample_contrastive_negs

    def source_orc_roundtrip(spark, sf):
        """ORC sink → reader round-trip: the columnar interchange format
        Spark ships besides parquet (Hive-ecosystem handoff).  Same
        predicate-pushdown/column-pruning contract as the parquet scans
        (ORC carries its own stripe stats); snappy-compressed write, one
        file per input partition."""
        import tempfile

        docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
        tmp = tempfile.mkdtemp(prefix="plda_orc_")
        docs.write.mode("overwrite").option("compression", "snappy").orc(
            f"{tmp}/docs"
        )
        return spark.read.orc(f"{tmp}/docs")

    q["source_orc_roundtrip"] = source_orc_roundtrip

    def events_transition_matrix(spark, sf):
        """First-order Markov transition matrix over event streams
        (operators/events.py transition_matrix): per-user ts-ordered
        (event_type → next) transition counts + per-source
        probabilities — the path-analysis primitive behind funnel
        discovery.  One lead window + one aggregation; event_id breaks
        ts ties so the order is total and engine-replayable."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.transition_matrix(load_table(spark, sf, "events"))

    q["events_transition_matrix"] = events_transition_matrix

    def events_attribution(spark, sf):
        """First-touch / last-touch revenue attribution
        (operators/events.py attribution): each purchase is credited to
        the user's first and most recent preceding click/view touch
        (the two standard marketing models).  One ignore-nulls window
        pass + one aggregation per model — no self-join, no
        driver-side state."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.attribution(load_table(spark, sf, "events"))

    q["events_attribution"] = events_attribution

    def events_forecast_backtest(spark, sf):
        """Seasonal-naive forecast backtest over the daily event series:
        predict each day's count with the SAME WEEKDAY one week earlier
        (the standard strong baseline every forecasting system must
        beat), emit per-day residuals plus each day's share of the
        running MAE.  One daily aggregation + one lag window over the
        |days|-row table — the series is group-key-sized, never the
        event log.  (operators/events.py forecast_backtest)"""
        from plda_spark.operators import events as ev_ops

        return ev_ops.forecast_backtest(load_table(spark, sf, "events"))

    q["events_forecast_backtest"] = events_forecast_backtest

    def events_assoc_rules(spark, sf):
        """A-priori association rules (operators/events.py
        association_rules): user-DAY baskets of distinct event types,
        directed rules a -> b with support/confidence/lift, support
        pruned at both the item and pair level.  One basket self-join
        restricted to frequent items + broadcast support joins — the
        market-basket co-engagement miner."""
        from plda_spark.operators import events as ev_ops

        ev = load_table(spark, sf, "events").select(
            F.concat_ws(
                "/", F.col("user_id"), F.to_date("ts").cast("string")
            ).alias("basket"),
            "event_type",
        )
        return ev_ops.association_rules(
            ev, user_col="basket", item_col="event_type", min_support=5
        )

    q["events_assoc_rules"] = events_assoc_rules

    def events_attribution_position(spark, sf):
        """Position-based (U-shaped 40/20/40) multi-touch attribution
        (operators/events.py attribution_position): one window pass
        collects each purchase's preceding touch path, the credit
        vector is a JVM array expression, one explode + aggregation —
        no self-join (the ORACLE does the self-join, proving the
        window formulation equivalent)."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.attribution_position(load_table(spark, sf, "events"))

    q["events_attribution_position"] = events_attribution_position

    def text_char_entropy(spark, sf):
        """Per-document character-level Shannon entropy — the classic
        gibberish/compression quality signal (low entropy = repeated
        filler, high = random noise; natural text sits in a band).
        Pure per-row JVM array expressions: distinct chars via
        split+array_distinct, per-char counts via length-difference
        after literal replace — O(len·|alphabet|) per row, NO shuffle,
        no Python.  (operators/text.py char_entropy)"""
        return text.char_entropy(load_table(spark, sf, "documents"))

    q["text_char_entropy"] = text_char_entropy

    def text_ngram_novelty(spark, sf):
        """Corpus-growth novelty curve (operators/text.py
        ngram_novelty): per doc, the fraction of its distinct word
        trigrams first seen in that doc reading the corpus in doc_id
        order — the diminishing-returns signal for crawl saturation.
        One n-gram-keyed window min + one doc-keyed aggregation; the
        oracle rebuilds the trigrams independently and must land on
        identical counts and fractions."""
        return text.ngram_novelty(load_table(spark, sf, "documents"), n=3)

    q["text_ngram_novelty"] = text_ngram_novelty

    def text_zipf_fit(spark, sf):
        """Zipf-law fit of the corpus token spectrum (operators/text.py
        zipf_fit): rank tokens by frequency, least-squares fit of
        log f vs log rank over the top 10k ranks — the one-number
        corpus-health diagnostic (natural text ~ -1; boilerplate
        flattens, gibberish steepens).  One count aggregation + one
        vocab-sized rank window + a closed-form LS aggregate; the
        oracle replays the regression arithmetic exactly."""
        return text.zipf_fit(load_table(spark, sf, "documents"))

    q["text_zipf_fit"] = text_zipf_fit

    def text_index_phrase(spark, sf):
        """Positional inverted index + exact-phrase retrieval
        (operators/invindex.py): build the (token, df, postings)
        index with two map-side-combinable aggregations, then find
        every consecutive occurrence of the 2-token phrase
        "table scan" via offset-adjusted position intersection —
        phrase-level benchmark-decontamination the n-gram overlap
        operators can't answer positionally.  Search touches only the
        phrase's own postings rows (IN-filter on the token key); the
        intersection fold is a JVM array expression."""
        from plda_spark.operators import invindex

        idx = invindex.build_inverted_index(load_table(spark, sf, "documents"))
        return invindex.phrase_search(idx, ["table", "scan"])

    q["text_index_phrase"] = text_index_phrase

    def text_index_boolean(spark, sf):
        """Conjunctive boolean retrieval over the positional index
        (operators/invindex.py term_search): documents containing ALL
        of {spark, query, window}, with total term frequency — the
        AND-query plan that reads |terms| postings rows and one
        per-doc aggregation, never the corpus."""
        from plda_spark.operators import invindex

        idx = invindex.build_inverted_index(load_table(spark, sf, "documents"))
        return invindex.term_search(idx, ["spark", "query", "window"], mode="and")

    q["text_index_boolean"] = text_index_boolean

    def stats_kmv_probes(spark, sf):
        """KMV (k-minimum-values) theta-sketch rollup probes
        (operators/stats.py kmv_*): per-day mergeable sketches of
        distinct users, then three estimates off the ROLLUP ALONE —
        distinct users in window A, in window B, and active in BOTH
        (the set-intersection estimate HLL sketches cannot give without
        lossy inclusion-exclusion).  Hashes are the engine's md5 60-bit
        integers, so sketch content AND estimates are deterministic —
        the oracle reproduces every value exactly, not statistically."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        k = 64
        sk = stats.kmv_daily_sketches(ev, key_col="user_id", ts_col="ts", k=k)
        sk = sk.localCheckpoint(eager=False)  # three consumers, tiny table
        ra = stats.kmv_estimate_range(sk, "2024-01-01", "2024-01-15", k=k).select(
            F.lit("distinct_a").alias("probe"), F.col("n_distinct").alias("value")
        )
        rb = stats.kmv_estimate_range(sk, "2024-01-10", "2024-01-30", k=k).select(
            F.lit("distinct_b").alias("probe"), F.col("n_distinct").alias("value")
        )
        ri = stats.kmv_intersect_ranges(
            sk, "2024-01-01", "2024-01-15", "2024-01-10", "2024-01-30", k=k
        ).select(F.lit("common_ab").alias("probe"), F.col("n_common").alias("value"))
        return ra.unionAll(rb).unionAll(ri)

    q["stats_kmv_probes"] = stats_kmv_probes

    def stats_bloom_probes(spark, sf):
        """Mergeable per-day BLOOM FILTERS of user activity
        (operators/stats.py bloom_*): the sketch-family member that
        answers point MEMBERSHIP ("was user X active in this window?"),
        which HLL (distincts), CMS (frequencies), and KMV (set sizes /
        intersections) cannot.  Union-merge is bitwise OR — range
        rollups compose losslessly like the other daily sketches.  Bit
        positions are the engine's md5 convention, so sketch content
        and every probe verdict — INCLUDING false positives — are
        deterministic and exactly SQL-reproducible."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        sk = stats.bloom_daily_sketches(ev, m_bits=4096, k=4)
        probes = spark.createDataFrame(
            [(i,) for i in [1, 2, 3, 4, 5, 999999991, 999999992, 999999993]],
            "probe long",
        )
        return stats.bloom_member_range(
            sk,
            probes,
            start_day="2024-01-05",
            end_day="2024-01-12",
            m_bits=4096,
            k=4,
        )

    q["stats_bloom_probes"] = stats_bloom_probes

    def stats_decayed_counts(spark, sf):
        """Exponentially time-decayed activity per event type
        (operators/stats.py decayed_counts): each event contributes
        2^(-age/half_life) with a 7-day half-life, measured from the
        corpus max timestamp — the recency-weighted "hot right now"
        metric.  ONE aggregation with map-side-combined partials; the
        oracle replays the identical formula."""
        from plda_spark.operators import stats

        return stats.decayed_counts(
            load_table(spark, sf, "events"), ["event_type"],
            half_life_days=7.0,
        ).orderBy("event_type")

    q["stats_decayed_counts"] = stats_decayed_counts

    def stats_seasonal_decompose(spark, sf):
        """Classical additive seasonal decomposition
        (operators/stats.py seasonal_decompose — the moving-average
        method behind STL initialization): daily event counts split
        into centered-MA trend, phase-mean weekly seasonal (centered
        to sum ~0), and residual — "is traffic growing or is it just
        Sunday".  The decomposition runs on the |days|-row series the
        one big aggregation produces, so the ordered windows are
        diagnostics-sized, never corpus-sized."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        daily = ev.groupBy(
            F.to_date("ts").cast("string").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("y"))
        return stats.seasonal_decompose(daily, ts_col="day", value_col="y")

    q["stats_seasonal_decompose"] = stats_seasonal_decompose

    def stats_decayed_moments(spark, sf):
        """Recency-weighted VALUE moments per event type
        (operators/stats.py decayed_moments): each event's value
        weighted 2^(-age/half_life) — decayed total and decayed mean,
        the "average order value, weighted toward this week" metric.
        ONE map-side-combined aggregation + a broadcast 1-row max; the
        streaming ledger maintains the same moments append-only
        (pytest-gated parity in tests/test_streaming.py)."""
        from plda_spark.operators import stats

        return stats.decayed_moments(
            load_table(spark, sf, "events"), ["event_type"], "value",
            half_life_days=7.0,
        )

    q["stats_decayed_moments"] = stats_decayed_moments

    def stats_ks_test(spark, sf):
        """Two-sample Kolmogorov-Smirnov drift test
        (operators/stats.py ks_test): exact D = max |ECDF_a - ECDF_b|
        between click and purchase event values + the classic
        asymptotic p-value (Numerical Recipes Q_KS with Stephens'
        small-sample λ).  Per-value counts aggregate FIRST (map-side
        combined), so the ordered ECDF window runs over |distinct
        values| rows — the bounded-diagnostic contract; the oracle
        replays the ECDF, λ, and the 100-term series exactly."""
        from plda_spark.operators import stats

        return stats.ks_test(
            load_table(spark, sf, "events"), "event_type", "value",
            "click", "purchase",
        )

    q["stats_ks_test"] = stats_ks_test

    def stats_chi2_independence(spark, sf):
        """Pearson chi-squared independence test + Cramér's V between
        source and language (operators/stats.py chi2_independence):
        one (a, b) contingency aggregation, margins as broadcast
        joins, empty cells folded in via the n·(Σo²/(ta·tb) − 1)
        identity — nothing after the first groupBy touches the data."""
        from plda_spark.operators import stats

        return stats.chi2_independence(
            load_table(spark, sf, "documents"), "source", "lang"
        )

    q["stats_chi2_independence"] = stats_chi2_independence

    def stats_mannwhitney(spark, sf):
        """Mann-Whitney U rank-sum test between click and purchase
        values (operators/stats.py mannwhitney_u): average-rank tie
        handling, tie-corrected variance, continuity-corrected normal
        approximation with the Abramowitz-Stegun Φ polynomial — the
        location-shift member of the drift-test family, all arithmetic
        engine-replayable.  Same bounded shape as the KS test: counts
        aggregate first, windows touch |distinct values| rows."""
        from plda_spark.operators import stats

        return stats.mannwhitney_u(
            load_table(spark, sf, "events"), "event_type", "value",
            "click", "purchase",
        )

    q["stats_mannwhitney"] = stats_mannwhitney

    def stats_welch_ttest(spark, sf):
        """Welch's unequal-variance t-test between click and purchase
        values (operators/stats.py welch_ttest): sum/sumsq one-pass
        moments, Welch-Satterthwaite dof, two-sided p via the shared
        A&S Φ polynomial (large-sample normal approximation, stated in
        the docstring) — the mean-shift member of the drift family.
        ONE conditional aggregation; no window, no join."""
        from plda_spark.operators import stats

        return stats.welch_ttest(
            load_table(spark, sf, "events"), "event_type", "value",
            "click", "purchase",
        )

    q["stats_welch_ttest"] = stats_welch_ttest

    def stats_bh_fdr(spark, sf):
        """Multiple-testing-corrected drift screen (operators/stats.py
        group_mean_shift_tests -> bh_fdr): one-vs-rest Welch z-tests
        for EVERY event type out of a single aggregation pass, then
        Benjamini-Hochberg step-up q-values over the |tests| rows —
        run 200 drift tests at p<0.05 and ~10 false alarms are
        expected; the q-values are what you actually alert on.  The
        ordered windows touch |tests| rows, never data."""
        from plda_spark.operators import stats

        tests = stats.group_mean_shift_tests(
            load_table(spark, sf, "events"), "event_type", "value"
        )
        return stats.bh_fdr(tests, "group", "p_value", alpha=0.05)

    q["stats_bh_fdr"] = stats_bh_fdr

    def stats_benford(spark, sf):
        """Benford's-law first-digit audit of order totals
        (operators/stats.py benford_audit): string-form digit
        extraction (immune to the floor(log10(1000.0)) float trap),
        per-digit observed vs log10(1+1/d) expected, Nigrini MAD +
        chi-squared via missing-digit-exact identities.  One digit
        count aggregation; everything after runs on <= 9 rows."""
        from plda_spark.operators import stats

        return stats.benford_audit(load_table(spark, sf, "orders"),
                                   "o_totalprice")

    q["stats_benford"] = stats_benford

    def stats_weighted_quantiles(spark, sf):
        """Weight-aware exact quantiles (operators/stats.py
        weighted_quantiles): per return-flag quartiles of extended
        price weighted by quantity — the smallest value whose
        cumulative weight reaches q of the group total, peer-inclusive
        RANGE frames so both engines agree on ties.  One per-group
        ordered window + one aggregation; groups parallelize."""
        from plda_spark.operators import stats

        return stats.weighted_quantiles(
            load_table(spark, sf, "lineitem"),
            "l_returnflag", "l_extendedprice", "l_quantity",
        )

    q["stats_weighted_quantiles"] = stats_weighted_quantiles

    def sim_mmr_rerank(spark, sf):
        """Maximal Marginal Relevance diversity re-rank (operators/
        similarity.py mmr_rerank — Carbonell & Goldstein 1998): the
        min-vec_id embedding is the query, its cosine top-50 the
        candidate list, then 7 greedy λ=0.7 MMR passes pick the
        diverse 8 — every arithmetic step a double left-fold so the
        unrolled oracle's greedy choices land on identical bits.
        Same k−1 map+top-1 shape as greedy k-center."""
        from plda_spark.operators import similarity as sim_ops

        emb = load_table(spark, sf, "embeddings")
        qrow = emb.orderBy(F.col("vec_id").asc()).first()
        qlit = F.array(*[F.lit(float(v)) for v in qrow["embedding"]])

        def dot(vec, other):
            return F.aggregate(
                F.zip_with(
                    vec, other,
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )

        def norm(vec):
            return F.sqrt(
                F.aggregate(
                    vec,
                    F.lit(0.0),
                    lambda acc, v: acc + v.cast("double") * v.cast("double"),
                )
            )

        e = F.col("embedding")
        scored = emb.select(
            "vec_id",
            "embedding",
            (dot(e, qlit) / (norm(e) * norm(qlit))).alias("score"),
        )
        cand = scored.orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        ).limit(50)
        return sim_ops.mmr_rerank(cand, k=8, lam=0.7)

    q["sim_mmr_rerank"] = sim_mmr_rerank

    def events_kaplan_meier(spark, sf):
        """Kaplan-Meier survival over engagement lifetimes (operators/
        events.py kaplan_meier — Kaplan & Meier 1958): censoring-aware
        retention where the subject is a (user, event_type) engagement
        stream (the synthetic corpus's users are all active to the
        last day, so per-type streams give a real censored/churned
        mix); streams active within 3 days of the corpus end are
        censored not churned, running product via exp-sum-log with
        the cumulative-min zero guard.  One per-subject aggregation;
        the curve table is calendar-bounded."""
        from plda_spark.operators import events as ev_ops

        ev = load_table(spark, sf, "events").withColumn(
            "subject", F.concat_ws("/", F.col("user_id"), F.col("event_type"))
        )
        return ev_ops.kaplan_meier(
            ev, user_col="subject", censor_window_days=3
        )

    q["events_kaplan_meier"] = events_kaplan_meier

    def graph_hits(spark, sf):
        """HITS hubs-and-authorities (operators/graph.py hits —
        Kleinberg 1999), 3 sum-normalized alternating iterations over
        the directed synthetic link graph (custkey%100 → orderkey%100);
        the oracle unrolls the identical iterations.  Per iteration two
        edge⋈score joins + one 1-row normalization broadcast each —
        the Pregel shape shared with pagerank."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        return graph.hits(e, n_iter=3)

    q["graph_hits"] = graph_hits

    def privacy_l_diversity(spark, sf):
        """Distinct l-diversity audit (operators/privacy.py
        l_diversity_audit — Machanavajjhala 2006): per nation class,
        how many distinct market segments appear — the homogeneity-
        attack check k-anonymity misses.  One aggregation with exact
        countDistinct; NULL sensitive values count as observable."""
        from plda_spark.operators import privacy

        return privacy.l_diversity_audit(
            load_table(spark, sf, "customer"),
            ["c_nationkey"], "c_mktsegment", l=5,
        )

    q["privacy_l_diversity"] = privacy_l_diversity

    def text_vocab_richness(spark, sf):
        """Frequency-spectrum vocabulary richness per language
        (operators/text.py vocab_richness): Chao1 unseen-types lower
        bound (bias-corrected at f2=0), Good-Turing coverage, TTR —
        the is-more-crawling-still-buying-vocabulary diagnostic.  One
        token-count aggregation + one spectrum aggregation."""
        from plda_spark.operators.text import vocab_richness

        return vocab_richness(
            load_table(spark, sf, "documents"), group_col="lang"
        )

    q["text_vocab_richness"] = text_vocab_richness

    def text_rrf_fusion(spark, sf):
        """Reciprocal-rank fusion (operators/invindex.py rrf_fuse —
        Cormack 2009) of two rankers over the corpus: BM25 of the
        fixed 4-term query + token-set Jaccard against the same terms,
        fused in rank space (1/(60+rank)), top-20 by (rrf desc, doc).
        The hybrid-retrieval combiner: no score normalization, per-
        system rank windows partitioned by system."""
        from plda_spark.operators import invindex
        from plda_spark.operators.text import bm25_score, tokens_col

        terms = ["join", "table", "group", "vector"]
        docs = load_table(spark, sf, "documents")
        bm = bm25_score(docs, terms).select(
            F.lit("bm25").alias("system"), "doc_id",
            F.col("bm25").alias("score"),
        )
        qarr = F.array(*[F.lit(t) for t in terms])
        toks = tokens_col("text")
        jac = docs.select(
            F.lit("jaccard").alias("system"),
            "doc_id",
            (
                F.size(F.array_intersect(toks, qarr))
                / F.size(F.array_union(toks, qarr)).cast("double")
            ).alias("score"),
        )
        return invindex.rrf_fuse(bm.unionByName(jac), k=60, top_n=20)

    q["text_rrf_fusion"] = text_rrf_fusion

    def text_vocab_coverage(spark, sf):
        """Tokenizer-vocab coverage audit (operators/text.py
        vocab_coverage): vocab = the corpus's top-2000 tokens by
        frequency (count-desc/token-asc total order), then per-source
        occurrence-weighted OOV rate — the per-slice audit that
        catches a vocab silently shredding one source.  One explode +
        broadcast-joinable vocab + one group aggregation."""
        from plda_spark.operators.text import tokens_col, vocab_coverage

        docs = load_table(spark, sf, "documents")
        vocab = (
            docs.select(F.explode(tokens_col("text")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("word").asc())
            .limit(2000)
            .select("word")
        )
        return vocab_coverage(docs, vocab)

    q["text_vocab_coverage"] = text_vocab_coverage

    def stats_jackknife_ratio(spark, sf):
        """Delete-one-DAY jackknife SE for a ratio of sums
        (operators/stats.py jackknife_ratio): purchase revenue per
        click — numerator and denominator are both random, so the
        naive SE is wrong and the jackknife is the experimentation-
        stack standard.  One per-day aggregation + broadcast totals +
        |days|-row arithmetic."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        return stats.jackknife_ratio(
            ev,
            F.to_date("ts"),
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(F.lit(0.0)),
            (F.col("event_type") == "click").cast("double"),
        )

    q["stats_jackknife_ratio"] = stats_jackknife_ratio

    def events_top_paths(spark, sf):
        """Top-20 most frequent 3-event consecutive sequences per user
        stream (operators/events.py top_paths): ONE user-partitioned
        lead window builds each path (the classic formulation
        self-joins the event table length−1 times), one path-keyed
        count, a (n desc, path asc) total-order TakeOrdered — the
        n-gram behavior view the first-order transition matrix
        marginalizes away."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.top_paths(load_table(spark, sf, "events"),
                                length=3, top_k=20)

    q["events_top_paths"] = events_top_paths

    def events_sessions(spark, sf):
        """Batch sessionization with a 30-min inactivity gap
        (operators/events.py sessionize — the batch twin of the
        streaming sessionizer): ONE user-keyed shuffle feeds both the
        lag window and the running session count (identical window
        spec, one Exchange), then one (user, session) aggregation;
        durations in exact integer microseconds so both engines agree
        bit-for-bit."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.sessionize(load_table(spark, sf, "events"))

    q["events_sessions"] = events_sessions

    def stats_conformal(spark, sf):
        """Split-conformal prediction intervals on the daily mean event
        value (operators/stats.py conformal_intervals — Vovk 2005 /
        Papadopoulos 2002): lag-7 seasonal-naive forecast joined by
        calendar arithmetic, calibration prefix = first half of scored
        days, q = the finite-sample k-th smallest residual with
        k = ceil(0.8*(n_cal+1)); distribution-free >=80% marginal
        coverage on the held-out tail. Corpus collapses to |days| rows
        first; every window runs over that rollup."""
        from plda_spark.operators import stats

        return stats.conformal_intervals(
            load_table(spark, sf, "events"), "ts", "value",
            alpha=0.2, season_lag_days=7, calib_frac=0.5,
        )

    q["stats_conformal"] = stats_conformal

    def privacy_rand_response(spark, sf):
        """k-ary randomized response over event types
        (operators/privacy.py rand_response_estimate — Warner 1965,
        the local-DP mechanism RAPPOR builds on): md5-deterministic
        keep/replace draws per event, broadcast category table for the
        replacement pick, debiased estimates
        n_est = (obs - n(1-p)/k)/p. One category agg + one per-row
        projection + one report agg; nothing collects."""
        from plda_spark.operators import privacy

        return privacy.rand_response_estimate(
            load_table(spark, sf, "events"), "event_type", "event_id",
            p=0.75, seed=42,
        )

    q["privacy_rand_response"] = privacy_rand_response

    def sample_balanced(spark, sf):
        """Deterministic balanced class downsampling to the minority
        language size (operators/sampling.py balanced_sample): keep the
        first min-class-count rows of each lang under the md5 shuffle
        order via the salted two-level rank (|classes|*256-way
        parallel, never |classes| single-task sorts) with the cap
        broadcast from one count aggregation."""
        from plda_spark.operators import sampling

        return sampling.balanced_sample(
            load_table(spark, sf, "documents").select(
                "doc_id", "lang", "source", "n_chars"
            ),
            "lang",
        )

    q["sample_balanced"] = sample_balanced

    def classify_nb(spark, sf):
        """Multinomial Naive Bayes train/score round-trip on a
        deterministic md5 half-split of documents, predicting lang
        from bag-of-words (operators/classify.py nb_eval — McCallum &
        Nigam 1998): Laplace-smoothed dense (vocab x lang) likelihood
        table, broadcast prior spine, per-doc argmax over rounded
        scores, confusion-matrix output."""
        from plda_spark.operators.classify import nb_eval

        return nb_eval(load_table(spark, sf, "documents"))

    q["classify_nb"] = classify_nb

    def events_funnel_latency(spark, sf):
        """Per-transition conversion latency for the view->click->
        purchase first-touch funnel (operators/events.py
        funnel_latency): the same ONE-shuffle pack-and-fold as the
        funnel, with the state machine carrying matched integer-micros
        timestamps; exact percentile_cont median/p90 over each
        transition's latencies."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.funnel_latency(
            load_table(spark, sf, "events"), ["view", "click", "purchase"]
        )

    q["events_funnel_latency"] = events_funnel_latency

    def sample_interleave(spark, sf):
        """Deterministic weighted interleave of languages into one
        training order (operators/sampling.py interleave_by_weight —
        stride scheduling, Waldspurger 1995): interleave_key =
        in-lang md5 rank / weight, so ascending-key streaming emits
        langs in proportion (en-heavy mixture); salted two-level rank
        + broadcast weight table, NO global sort."""
        from plda_spark.operators import sampling

        return sampling.interleave_by_weight(
            load_table(spark, sf, "documents").select("doc_id", "lang"),
            "lang",
            {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
        )

    q["sample_interleave"] = sample_interleave

    def events_stickiness(spark, sf):
        """DAU/WAU stickiness per day from ONE mergeable KMV rollup
        (operators/stats.py kmv_daily_sketches + kmv_rolling_active):
        DAU = the day's own sketch estimate, WAU = trailing-7-day
        union-merge estimate, stickiness = dau/wau — the probes touch
        only |days| kB-sized sketch rows, never re-reading the log;
        the window membership is a calendar-bounded |days|x|days|
        nested loop by design."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        sk = stats.kmv_daily_sketches(ev, "user_id", "ts", k=64)
        dau = stats.kmv_rolling_active(sk, 1, 64).withColumnRenamed(
            "n_active", "dau"
        )
        wau = stats.kmv_rolling_active(sk, 7, 64).withColumnRenamed(
            "n_active", "wau"
        )
        import pyspark.sql.functions as F

        return dau.join(wau, "day").select(
            "day", "dau", "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )

    q["events_stickiness"] = events_stickiness

    def ml_silhouette(spark, sf):
        """Simplified (centroid-based) silhouette quality of the pinned
        8-centroid assignment (operators/similarity.py
        silhouette_simplified — Hruschka 2004; full Rousseeuw is O(n^2)):
        per-cluster mean of (b-a)/max(a,b) with bit-replayable literal
        left-fold distances; ONE |clusters|-group aggregation."""
        import numpy as np

        emb = load_table(spark, sf, "embeddings")
        cents = np.stack(
            [
                np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.where(F.col("vec_id") < 8)
                .orderBy("vec_id").collect()
            ]
        )
        from plda_spark.operators import similarity as sim_ops

        return sim_ops.silhouette_simplified(emb, cents)

    q["ml_silhouette"] = ml_silhouette

    def events_pit_features(spark, sf):
        """Leakage-free point-in-time features for purchase anchors
        (operators/events.py point_in_time_features): trailing 7-day
        half-open (ts-7d, ts) activity count + value sum per user via
        ONE value-based RANGE window over integer micros — no as-of
        self-join; same-ts peers excluded identically in both engines
        because the frame is value-based."""
        from plda_spark.operators import events as ev_ops

        out = ev_ops.point_in_time_features(
            load_table(spark, sf, "events"), anchor_type="purchase"
        )
        return out.select(
            "event_id", "user_id",
            F.col("ts").cast("string").alias("ts"),
            "n_prev", "value_prev",
        )

    q["events_pit_features"] = events_pit_features

    def stats_mutual_information(spark, sf):
        """Mutual information + sqrt-normalized NMI between document
        source and language (operators/stats.py mutual_information):
        the information-theoretic sibling of chi2_independence and THE
        external clustering-evaluation score.  One contingency
        aggregation, broadcast margins, scalar sums over |A·B| rows —
        marginal entropies fold out of the same cell rows (p(a,b)·
        −ln p(a) sums over b to the margin, no second pass)."""
        from plda_spark.operators import stats

        return stats.mutual_information(
            load_table(spark, sf, "documents"), "source", "lang"
        )

    q["stats_mutual_information"] = stats_mutual_information

    def events_ltv_cohorts(spark, sf):
        """Cohort LTV triangle (operators/events.py ltv_cohorts):
        first-active-week cohorts, per-(cohort, weeks-since) purchase
        revenue and cumulative revenue per cohort member — the
        lifetime-value curve beside the retention triangle.  One
        per-user aggregation + user-keyed purchase join + a cumulative
        window PARTITIONED BY COHORT over the calendar-bounded
        rollup."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.ltv_cohorts(load_table(spark, sf, "events"))

    q["events_ltv_cohorts"] = events_ltv_cohorts

    def stats_spearman(spark, sf):
        """Spearman rank correlation (operators/stats.py spearman_corr)
        between order quantity and the thousand-dollar price band:
        pair-count aggregation first, marginal average ranks from each
        side's rollup (Mann-Whitney tie convention), weighted Pearson
        over the pair table — algebraically identical to ranking every
        row at |distinct pairs| cost.  The price is pre-quantized to
        bands exactly because the guard enforces the bounded-
        cardinality contract (583k raw distinct prices at sf0.1 would
        refuse)."""
        from plda_spark.operators import stats

        li = load_table(spark, sf, "lineitem").withColumn(
            "price_band",
            F.floor(F.col("l_extendedprice") / F.lit(1000.0)),
        )
        return stats.spearman_corr(li, "l_quantity", "price_band")

    q["stats_spearman"] = stats_spearman

    def pipeline_daily_anomaly(spark, sf):
        """Composition: seasonal-aware daily anomaly detection
        (stats.seasonal_decompose → stats.mad_outliers on the
        residuals): daily event counts split into trend/weekly-
        seasonal/residual, then the residual series screened by
        modified z-score — flags the days that are anomalous AFTER
        discounting growth and weekday rhythm (a raw threshold flags
        every Sunday instead).  k=1.5 reports the fixture's top tail
        (production uses the 3.5 default).  All windows run on the
        |days| rollup; the ORACLE recomputes the full composition."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        daily = ev.groupBy(
            F.to_date("ts").cast("string").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("y"))
        dec = stats.seasonal_decompose(daily, ts_col="day", value_col="y")
        resid = dec.where(F.col("residual").isNotNull()).select(
            F.lit("all").alias("series"), "day", "residual",
        )
        return stats.mad_outliers(resid, "series", "residual", "day",
                                  k=1.5)

    q["pipeline_daily_anomaly"] = pipeline_daily_anomaly

    def stats_acf(spark, sf):
        """Daily-series autocorrelation at lags 1..7 (operators/
        stats.py acf_daily): full-series-mean estimator with CALENDAR
        lag pairing (date_add join — a missing day drops its pairs
        instead of sliding the alignment), the which-period-to-
        decompose detector.  Corpus collapses to |days| rows first."""
        from plda_spark.operators import stats

        return stats.acf_daily(
            load_table(spark, sf, "events"), "ts", "value", max_lag=7
        )

    q["stats_acf"] = stats_acf

    def sample_curriculum(spark, sf):
        """Curriculum ordering (operators/sampling.py curriculum_order
        — Bengio 2009): documents bucketed into 4 difficulty phases by
        exact n_chars quartiles (shorter = easier = phase 1), md5-
        shuffled within each phase — stage-wise progression with
        in-stage randomness, one broadcast cut row + a two-level rank
        (row_number windows partitioned by (phase, md5-prefix salt) +
        broadcast per-bucket offsets: p*256-way parallel, identical
        total order)."""
        from plda_spark.operators import sampling

        return sampling.curriculum_order(
            load_table(spark, sf, "documents"), "n_chars", n_phases=4
        )

    q["sample_curriculum"] = sample_curriculum

    def stats_cusum(spark, sf):
        """Tabular CUSUM change-point monitor over the daily mean
        event value (operators/stats.py cusum_changepoints — Page
        1954): standardized one-sided cumulative sums via the
        closed-form prefix-sum − running-min identity (no sequential
        state machine), alarm at h=4, slack k=0.5.  The corpus
        collapses to |days| rows first."""
        from plda_spark.operators import stats

        return stats.cusum_changepoints(
            load_table(spark, sf, "events"), "ts", "value", k=0.5, h=4.0
        )

    q["stats_cusum"] = stats_cusum

    def stats_psi(spark, sf):
        """Population Stability Index between click and purchase value
        distributions (operators/stats.py psi): 10 equal-width bins on
        the pooled range (one broadcast min/max), empty-bin shares
        clamped at 1e-4 per scorecard convention, per-bin terms + the
        total stamped on each row.  One bin-keyed aggregation;
        everything after runs on <= 10 rows."""
        from plda_spark.operators import stats

        return stats.psi(
            load_table(spark, sf, "events"), "event_type", "value",
            "click", "purchase", bins=10,
        )

    q["stats_psi"] = stats_psi

    def stats_kruskal_wallis(spark, sf):
        """Kruskal-Wallis H across ALL event types' value distributions
        (operators/stats.py kruskal_wallis): average-rank ties,
        tie-corrected H, Wilson-Hilferty cube-root chi-squared p
        through the shared A&S Φ — the k-group screen you run before
        pairwise Mann-Whitney + BH.  Same guarded bounded-cardinality
        window contract as the KS family."""
        from plda_spark.operators import stats

        return stats.kruskal_wallis(
            load_table(spark, sf, "events"), "event_type", "value"
        )

    q["stats_kruskal_wallis"] = stats_kruskal_wallis

    def stats_trend(spark, sf):
        """Theil-Sen slope + Mann-Kendall trend test over the daily
        mean event value (operators/stats.py trend_tests): the corpus
        collapses to |days| rows first, all day pairs give the exact
        median pairwise slope and the sign statistic S with the
        continuity-corrected normal p — the robust
        is-this-metric-drifting detector."""
        from plda_spark.operators import stats

        return stats.trend_tests(load_table(spark, sf, "events"),
                                 "ts", "value")

    q["stats_trend"] = stats_trend

    def privacy_k_anonymity(spark, sf):
        """k-anonymity audit (operators/privacy.py k_anonymity_audit —
        Sweeney 2002): equivalence-class sizes over the
        (nation, market-segment) quasi-identifier pair with the
        violates-k flag — the pre-release re-identification-risk
        evidence table.  ONE map-side-combined aggregation."""
        from plda_spark.operators import privacy

        return privacy.k_anonymity_audit(
            load_table(spark, sf, "customer"),
            ["c_nationkey", "c_mktsegment"], k=10,
        )

    q["privacy_k_anonymity"] = privacy_k_anonymity

    def privacy_dp_counts(spark, sf):
        """Laplace-mechanism noisy counts (operators/privacy.py
        dp_noisy_counts — Dwork et al. 2006) per event type at ε=1:
        inverse-CDF Laplace draw from an md5-derived uniform, so the
        release is deterministic per (group, seed) and the oracle
        reproduces the exact noise (the docstring spells out why a
        secure release swaps that one expression for a real RNG).
        One aggregation + |groups|-row projection."""
        from plda_spark.operators import privacy

        return privacy.dp_noisy_counts(
            load_table(spark, sf, "events"), ["event_type"],
            epsilon=1.0, seed=42,
        )

    q["privacy_dp_counts"] = privacy_dp_counts

    def stats_hist_ks(spark, sf):
        """KS drift between two DATE RANGES from the mergeable
        histogram rollup alone (operators/stats.py hist_ks_ranges over
        hist_daily_sketches): merge each range's day arrays (lossless),
        binned ECDFs, D + asymptotic p — the drift probe that never
        re-reads the event log (touches |days| rollup rows)."""
        from plda_spark.operators import stats

        sk = stats.hist_daily_sketches(
            load_table(spark, sf, "events"), "value",
            lo=0.0, hi=200.0, nbins=64,
        )
        return stats.hist_ks_ranges(
            sk, ("2024-01-01", "2024-01-10"), ("2024-01-20", "2024-01-31")
        )

    q["stats_hist_ks"] = stats_hist_ks

    def stats_hist_psi(spark, sf):
        """PSI between the same two DATE RANGES from the histogram
        rollup alone (operators/stats.py hist_psi_ranges) — the drift
        MAGNITUDE from the same mergeable sketches the KS probe folds;
        clamped shares exactly like stats_psi.  Never re-reads the
        event log."""
        from plda_spark.operators import stats

        sk = stats.hist_daily_sketches(
            load_table(spark, sf, "events"), "value",
            lo=0.0, hi=200.0, nbins=64,
        )
        return stats.hist_psi_ranges(
            sk, ("2024-01-01", "2024-01-10"), ("2024-01-20", "2024-01-31")
        )

    q["stats_hist_psi"] = stats_hist_psi

    def stats_hist_cvm(spark, sf):
        """Cramér-von Mises drift between the same two DATE RANGES
        from the histogram rollup alone (operators/stats.py
        hist_cvm_ranges) — the integrated-squared-ECDF-gap member
        completing the rollup drift triple next to stats_hist_ks (max
        gap) and stats_hist_psi (magnitude).  Never re-reads the
        event log."""
        from plda_spark.operators import stats

        sk = stats.hist_daily_sketches(
            load_table(spark, sf, "events"), "value",
            lo=0.0, hi=200.0, nbins=64,
        )
        return stats.hist_cvm_ranges(
            sk, ("2024-01-01", "2024-01-10"), ("2024-01-20", "2024-01-31")
        )

    q["stats_hist_cvm"] = stats_hist_cvm

    def stats_hist_ad(spark, sf):
        """Anderson-Darling drift between the same two DATE RANGES
        from the histogram rollup alone (operators/stats.py
        hist_ad_ranges) — the TAIL-WEIGHTED member extending the
        rollup drift family to a quartet next to stats_hist_ks (max
        gap), stats_hist_cvm (integrated gap), and stats_hist_psi
        (magnitude).  Never re-reads the event log."""
        from plda_spark.operators import stats

        sk = stats.hist_daily_sketches(
            load_table(spark, sf, "events"), "value",
            lo=0.0, hi=200.0, nbins=64,
        )
        return stats.hist_ad_ranges(
            sk, ("2024-01-01", "2024-01-10"), ("2024-01-20", "2024-01-31")
        )

    q["stats_hist_ad"] = stats_hist_ad

    def curation_winsorize(spark, sf):
        """Per-source winsorization of document lengths
        (operators/curation.py winsorize): n_chars clipped to each
        source's exact [5%, 95%] percentile band — the outlier
        treatment before mean/std thresholds.  ONE percentile
        aggregation broadcast back; the corpus is never sorted."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "source", "n_chars"
        )
        return curation.winsorize(
            docs, "n_chars", group_col="source", lo=0.05, hi=0.95
        )

    q["curation_winsorize"] = curation_winsorize

    def pipeline_curation_v2(spark, sf):
        """Round-6 curation ops COMPOSED end to end: per-source
        winsorize (5-95% clip) → cross-source quantile normalization
        (pooled scale) → fixed global threshold (≥ 300 pooled units —
        now meaningful in every source) → per-source keep counts +
        mean normalized score.  The oracle replays the whole chain in
        SQL, hash-gating the composition, not just the parts."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "source", "n_chars"
        )
        w = curation.winsorize(
            docs, "n_chars", group_col="source", lo=0.05, hi=0.95
        )
        qn = curation.quantile_normalize(
            w, "winsorized", "source", n_cuts=100
        )
        return (
            qn.where(F.col("normalized") >= 300.0)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.round(F.avg("normalized"), 4).alias("mean_normalized"),
            )
        )

    q["pipeline_curation_v2"] = pipeline_curation_v2

    def curation_ess(spark, sf):
        """Kish effective sample size per source
        (operators/curation.py effective_sample_size): docs weighted
        exp(-n_chars/500) — after importance weighting, how many
        INDEPENDENT documents is each source really worth (ESS =
        (Σw)²/Σw², ratio 1 = uniform, → 0 = degenerate)?  ONE
        map-side-combined aggregation."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents").withColumn(
            "w", F.exp(-F.col("n_chars") / F.lit(500.0))
        )
        return curation.effective_sample_size(docs, "w", group_col="source")

    q["curation_ess"] = curation_ess
    def stream_hist_drift(spark, sf):
        """Streaming drift detection end to end (streaming/windows.py
        incremental_hist_ledger + hist_ks_from_ledger): the even events
        arrive as micro-batch 0, the odds as micro-batch 1 (two
        availableNow runs against one checkpoint), each appending ONE
        lossless histogram row under the exactly-once partition-
        overwrite contract; the KS fold between the two batches must
        equal the oracle's direct binned KS over the same parity split
        — the streaming drift monitor hash-gated, not just
        pytest-gated."""
        state = _hist_ledger(spark, sf, "plda_histdrift_")
        return windows.hist_ks_from_ledger(spark, state, (0, 0), (1, 1))

    q["stream_hist_drift"] = stream_hist_drift

    def stream_hist_psi(spark, sf):
        """Streaming drift MAGNITUDE end to end (streaming/windows.py
        incremental_hist_ledger + hist_psi_from_ledger): the same
        two-parity-micro-batch ledger as stream_hist_drift, folded to
        a PSI instead of a KS — the ops-alarm number straight off the
        append-only ledger, hash-gated against the oracle's direct
        binned PSI over the identical parity split."""
        state = _hist_ledger(spark, sf, "plda_histpsi_")
        return windows.hist_psi_from_ledger(spark, state, (0, 0), (1, 1))

    q["stream_hist_psi"] = stream_hist_psi

    def stream_hist_cvm(spark, sf):
        """Streaming integrated drift end to end (streaming/windows.py
        incremental_hist_ledger + hist_cvm_from_ledger): the same
        two-parity-micro-batch ledger as stream_hist_drift, folded to
        the Cramér-von Mises T instead of KS/PSI — the third drift
        alert off the identical append-only ledger, hash-gated
        against the oracle's direct binned CvM over the parity
        split."""
        state = _hist_ledger(spark, sf, "plda_histcvm_")
        return windows.hist_cvm_from_ledger(spark, state, (0, 0), (1, 1))

    q["stream_hist_cvm"] = stream_hist_cvm

    def stream_hist_ad(spark, sf):
        """Streaming tail-weighted drift end to end
        (streaming/windows.py incremental_hist_ledger +
        hist_ad_from_ledger): the same two-parity-micro-batch ledger
        as stream_hist_drift, folded to the Anderson-Darling A²
        instead of KS/PSI/CvM — the fourth drift alert off the
        identical append-only ledger, hash-gated against the oracle's
        direct binned AD over the parity split."""
        state = _hist_ledger(spark, sf, "plda_histad_")
        return windows.hist_ad_from_ledger(spark, state, (0, 0), (1, 1))

    q["stream_hist_ad"] = stream_hist_ad


    def sample_neyman(spark, sf):
        """Neyman-optimal stratified allocation (operators/sampling.py
        neyman_allocation — Neyman 1934): a 2000-row budget split across
        document sources proportionally to N_h * sigma_h of n_chars
        (volatile strata draw more), with per-stratum keep rates and
        saturation at the stratum size.  One corpus aggregation + a
        window over the |strata|-row plan; the oracle recomputes the
        allocation arithmetic exactly."""
        from plda_spark.operators import sampling

        return sampling.neyman_allocation(
            load_table(spark, sf, "documents"), "source", "n_chars", 2000
        )

    q["sample_neyman"] = sample_neyman

    def sample_kcenter(spark, sf):
        """Greedy k-center coreset selection (operators/sampling.py
        kcenter_select — the D4-style diversity selector, Gonzalez's
        2-approximation): seed at the smallest vec_id, then 7 farthest-
        point rounds over the embeddings.  Every round is one
        distributed map over broadcast-literal centers + a top-1
        TakeOrdered — no shuffle; all arithmetic is a double left-fold
        so the oracle's unrolled greedy lands on identical bits.  The
        dist_sq column is the coverage-radius curve (monotone
        non-increasing — the convergence diagnostic)."""
        from plda_spark.operators import sampling

        return sampling.kcenter_select(load_table(spark, sf, "embeddings"), 8)

    q["sample_kcenter"] = sample_kcenter

    def curation_embedding_drift(spark, sf):
        """Embedding-space drift monitor (operators/curation.py
        embedding_drift): per label, cosine between the centroid of the
        pre-refresh corpus (vec_id %% 10 != 0) and the refreshed corpus
        (all vectors) — the semantic sibling of curation_drift's count
        shares (a group can keep its share while its content moves).
        One posexplode + (group, dim) average per side, centroid tables
        joined on their natural key; oracle replays the arithmetic."""
        from plda_spark.operators import curation

        emb = load_table(spark, sf, "embeddings")
        before = emb.where(F.col("vec_id") % 10 != 0)
        return curation.embedding_drift(before, emb, "label")

    q["curation_embedding_drift"] = curation_embedding_drift

    def curation_quantile_norm(spark, sf):
        """Cross-source quantile normalization (operators/curation.py
        quantile_normalize — Bolstad 2003 applied to quality scores):
        each document's n_chars mapped to the POOLED corpus value at
        its within-source percentile, so one global threshold means the
        same thing in every source.  Within-source percent_rank + ONE
        pooled 101-cut-point aggregation broadcast for linear
        interpolation; exact-percentile oracle mode here, sketch mode
        for corpus scale."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "source", "n_chars"
        )
        return curation.quantile_normalize(
            docs, "n_chars", "source", n_cuts=100
        )

    q["curation_quantile_norm"] = curation_quantile_norm

    def stats_gini_concentration(spark, sf):
        """Gini coefficient of corpus concentration across sources and
        languages — the one-number imbalance diagnostic curation teams
        track release-over-release (0 = perfectly even mixture, →1 =
        one slice dominates).  Sorted-rank formula over the GROUP-COUNT
        table (tiny), exact integer sums until one final division:
        G = 2·Σ(rank·cnt)/(n·Σcnt) − (n+1)/n with counts ascending,
        ties rank-broken by group name for engine-identical hashing.
        (operators/stats.py gini_concentration)"""
        from plda_spark.operators import stats

        return stats.gini_concentration(
            load_table(spark, sf, "documents"), ["source", "lang"]
        )

    q["stats_gini_concentration"] = stats_gini_concentration

    def text_rake_keywords(spark, sf):
        """RAKE keyword extraction (operators/text.py rake_keywords —
        Rose et al. 2010): stopword-delimited candidate phrases scored
        by summed word deg/freq, top-3 per document.  Phrase splitting
        is one per-row JVM struct fold; scoring is two doc-keyed
        aggregations + one equi-join; the oracle rebuilds the phrases
        INDEPENDENTLY (ordinality + running stopword count windows) and
        must land on identical scores."""
        return text.rake_keywords(load_table(spark, sf, "documents"), top_k=3)

    q["text_rake_keywords"] = text_rake_keywords

    def text_lm_score_kn3(spark, sf):
        """Interpolated Kneser-Ney TRIGRAM perplexity per document
        (operators/text.py lm_score_kn3) — one order up from the bigram
        filter, the shape of CCNet's KenLM scoring.  Count tables are
        vocab-power-bounded natural-key joins; the oracle replays the
        full Chen-Goodman recursion (continuation counts at order 2)
        and must match avg_logp / perplexity to 6 decimals."""
        return text.lm_score_kn3(load_table(spark, sf, "documents"))

    q["text_lm_score_kn3"] = text_lm_score_kn3

    def sim_quantize_int8(spark, sf):
        """Symmetric per-vector int8 embedding quantization (max-abs
        scaling, the faiss/SQ8 storage layout): 4× smaller vectors for
        ANN shortlists, with the max reconstruction error surfaced per
        vector.  Pure JVM array expressions — transform/aggregate, no
        Python, no shuffle.  The raw scale is staged under `_sc` so the
        rounded display alias `scale` can't lateral-alias-capture the
        error expressions (Spark 3.4+ resolves same-select aliases)."""
        emb = load_table(spark, sf, "embeddings")
        v = F.transform("embedding", lambda x: x.cast("double"))
        scale = F.aggregate(
            v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        ) / F.lit(127.0)
        staged = emb.select(
            "vec_id", v.alias("v"), scale.alias("_sc")
        ).where(F.col("_sc") > 0)
        q8 = F.transform(
            "v",
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(x / F.col("_sc")).cast("int")),
            ),
        )
        return staged.select(
            "vec_id",
            F.round("_sc", 6).alias("scale"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        q8,
                        F.col("v"),
                        lambda qi, xi: F.abs(qi * F.col("_sc") - xi),
                    ),
                    F.lit(0.0),
                    lambda acc, x: F.greatest(acc, x),
                ),
                6,
            ).alias("max_err"),
        )

    q["sim_quantize_int8"] = sim_quantize_int8

    def stream_top_users(spark, sf):
        """Batch twin of the streaming windowed heavy-hitters pipeline
        (hourly tumble, top-3 users per window); streaming parity is
        pinned in tests/test_streaming.py."""
        return windows.windowed_top_users_batch(
            load_table(spark, sf, "events"), k=3
        )

    q["stream_top_users"] = stream_top_users

    def dedup_semantic(spark, sf):
        """End-to-end semantic dedup (operators.dedup.semantic_dedup):
        blocked cosine near-dup pairs → connected components → keep the
        min-id representative per cluster.  Exhaustive probing
        (n_probe == n_cells) makes the blocked stage exact, so the
        brute-force + recursive-CTE oracle applies to the whole plan."""
        emb = load_table(spark, sf, "embeddings")
        return dedup.semantic_dedup(
            emb, dim=64, threshold=0.4, n_cells=8, n_probe=8
        ).select("vec_id")

    q["dedup_semantic"] = dedup_semantic

    def stats_key_skew(spark, sf):
        """Hot-key skew report over the events stream (top-10 users)."""
        from plda_spark.operators import stats

        return stats.key_skew(load_table(spark, sf, "events"), "user_id", k=10)

    q["stats_key_skew"] = stats_key_skew

    def stats_zscore_outliers(spark, sf):
        """Per-type z-score anomaly scan over events with planted
        extremes (event_id % 997: value*50 + 1000) so |z| > 3 rows
        exist at every SF."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            "event_id",
            "event_type",
            F.when(
                F.col("event_id") % 997 == 0, F.col("value") * 50 + 1000
            )
            .otherwise(F.col("value"))
            .alias("value"),
        )
        return stats.zscore_outliers(
            ev, ["event_type"], "value", "event_id", threshold=3.0
        )

    q["stats_zscore_outliers"] = stats_zscore_outliers

    def stats_fill_gaps(spark, sf):
        """Per-user dense daily grid (gap filling / resampling)."""
        from plda_spark.operators import stats

        return stats.fill_daily_gaps(load_table(spark, sf, "events"), "user_id", "ts")

    q["stats_fill_gaps"] = stats_fill_gaps

    def curation_mixture(spark, sf):
        """Domain-mixture planning over documents (n_chars as the token
        proxy): target 50/25/25 across src1/src2/src3, other sources
        dropped; weights chosen binary-exact so both engines normalize
        identically."""
        from plda_spark.operators import curation

        return curation.mixture_rates(
            load_table(spark, sf, "documents"),
            "source",
            {"src1": 0.5, "src2": 0.25, "src3": 0.25},
            token_count_col="n_chars",
        )

    q["curation_mixture"] = curation_mixture

    def curation_dsir(spark, sf):
        """DSIR importance log-weights (hashed-unigram likelihood ratio,
        Xie et al. 2023): target = the English subset, raw = the whole
        corpus, 1000 md5 buckets, Laplace smoothing 1.0."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents")
        return curation.dsir_weights(
            docs, docs.where(F.col("lang") == "en"), num_buckets=1000
        )

    q["curation_dsir"] = curation_dsir

    def curation_temperature(spark, sf):
        """Temperature-scaled mixture planning (T=2): targets derived
        from current shares as share^(1/T), the standard low-resource
        up-weighting recipe; n_chars as the token proxy."""
        from plda_spark.operators import curation

        return curation.temperature_mixture(
            load_table(spark, sf, "documents"),
            "source",
            temperature=2.0,
            token_count_col="n_chars",
        )

    q["curation_temperature"] = curation_temperature

    def curation_ppl_buckets(spark, sf):
        """CCNet-style perplexity deciles (operators.curation.
        ppl_buckets): add-k bigram LM score + broadcast quantile cut
        points — no global sort, scan + 1-row agg + per-row compare."""
        from plda_spark.operators import curation

        return curation.ppl_buckets(load_table(spark, sf, "documents"))

    q["curation_ppl_buckets"] = curation_ppl_buckets

    # ---- relational breadth: TPC-H-style q7 / q10 / q18 --------------------

    def q7_volume_shipping(spark, sf):
        """TPC-H Q7 shape: revenue between two nation pairs by ship
        year (two broadcast nation joins + OR'd pair filter)."""
        li = load_table(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1997-12-31")
        )
        orders = load_table(spark, sf, "orders")
        cust = load_table(spark, sf, "customer")
        supp = load_table(spark, sf, "supplier")
        nation = load_table(spark, sf, "nation")
        n1 = nation.select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
        n2 = nation.select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,6)"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
            .where(
                (
                    (F.col("supp_nation") == "NATION_18")
                    & (F.col("cust_nation") == "NATION_19")
                )
                | (
                    (F.col("supp_nation") == "NATION_19")
                    & (F.col("cust_nation") == "NATION_18")
                )
            )
        )
        return j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        ).agg(F.sum(rev).cast("double").alias("revenue"))

    q["q7_volume_shipping"] = q7_volume_shipping

    def q10_returned_items(spark, sf):
        """TPC-H Q10 shape: top-20 customers by revenue lost to
        returned items in one quarter."""
        li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
        orders = load_table(spark, sf, "orders").where(
            (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        cust = load_table(spark, sf, "customer")
        nation = load_table(spark, sf, "nation")
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,6)"
        )
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.sum(rev).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20)
            .withColumn("revenue", F.col("revenue").cast("double"))
            .withColumn("c_acctbal", F.round(F.col("c_acctbal").cast("double"), 2))
        )

    q["q10_returned_items"] = q10_returned_items

    def q18_large_orders(spark, sf):
        """TPC-H Q18 shape: orders whose total quantity exceeds 200
        (aggregate-derived semi-join on the fact table itself)."""
        li = load_table(spark, sf, "lineitem")
        orders = load_table(spark, sf, "orders")
        cust = load_table(spark, sf, "customer")
        big = (
            li.groupBy("l_orderkey")
            .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
            .where(F.col("sum_qty") > 200)
        )
        return (
            orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .select(
                "c_custkey",
                "c_name",
                "o_orderkey",
                "o_orderdate",
                "o_totalprice",
                F.col("sum_qty").cast("double").alias("sum_qty"),
            )
        )

    q["q18_large_orders"] = q18_large_orders

    def q6_forecast_revenue(spark, sf):
        """TPC-H Q6 shape: pure scan-side predicate aggregation — the
        filter must reach the parquet scan (no join, no shuffle past
        the one-row final agg)."""
        li = load_table(spark, sf, "lineitem")
        return (
            li.where(
                (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1997-01-01")
                & (F.col("l_discount") >= 0.05)
                & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24)
            )
            .agg(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)"))
                .cast("double")
                .alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["q6_forecast_revenue"] = q6_forecast_revenue

    def q14_promo_revenue(spark, sf):
        """TPC-H Q14 shape: promo revenue share for one ship month —
        fact scan + broadcast dim join + conditional aggregate ratio."""
        li = load_table(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        part = load_table(spark, sf, "part")
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
        zero = F.lit(0).cast("decimal(18,6)")
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .agg(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
                .cast("double")
                .alias("promo_rev"),
                F.sum(rev).cast("double").alias("total_rev"),
            )
            .select(
                F.round(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 6).alias(
                    "promo_pct"
                ),
                F.round("promo_rev", 2).alias("promo_rev"),
                F.round("total_rev", 2).alias("total_rev"),
            )
        )

    q["q14_promo_revenue"] = q14_promo_revenue

    def q8_market_share(spark, sf):
        """TPC-H Q8 shape: one nation's supplier share of ECONOMY-part
        revenue sold into ASIA, by order year — five-table star join
        with both dims broadcast and one conditional-ratio aggregate."""
        li = load_table(spark, sf, "lineitem")
        orders = load_table(spark, sf, "orders").where(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") <= "1997-12-31")
        )
        part = load_table(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
        supp = load_table(spark, sf, "supplier")
        cust = load_table(spark, sf, "customer")
        nation = load_table(spark, sf, "nation")
        region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
        n_cust = nation.join(
            F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
        ).select(F.col("n_nationkey").alias("cn_key"))
        n_supp = nation.select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
        zero = F.lit(0).cast("decimal(18,6)")
        j = (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
            .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        )
        return (
            j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero))
                .cast("double")
                .alias("nation_rev"),
                F.sum(rev).cast("double").alias("total_rev"),
            )
            .select(
                "o_year",
                F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
                F.round("total_rev", 2).alias("total_rev"),
            )
        )

    q["q8_market_share"] = q8_market_share

    def q17_small_qty_revenue(spark, sf):
        """TPC-H Q17 shape: revenue from lineitems whose quantity is
        under 20% of their part's average — the aggregate-derived
        per-key threshold joined back to the fact table (no correlated
        re-scan: one groupBy + one equi-join)."""
        li = load_table(spark, sf, "lineitem")
        part = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#1")
        avg_q = (
            li.groupBy(F.col("l_partkey").alias("ak"))
            .agg(
                (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
                    "avg_qty"
                )
            )
        )
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(avg_q, li["l_partkey"] == F.col("ak"))
            .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg(
                F.round(
                    F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 2
                ).alias("avg_yearly"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["q17_small_qty_revenue"] = q17_small_qty_revenue

    # ---- TPC-H breadth: the remaining query shapes, adapted to the
    # synthetic schema (no partsupp / commitdate / shipmode columns; each
    # docstring names the substitution) --------------------------------------

    def q4_order_priority(spark, sf):
        """TPC-H Q4 shape (EXISTS semi-join + priority rollup): orders
        placed in 1996 having at least one lineitem shipped more than 60
        days after the order date (stand-in for commit<receipt)."""
        ords = load_table(spark, sf, "orders").where(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        li = load_table(spark, sf, "lineitem")
        late = ords.join(
            li,
            (ords["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > F.date_add(ords["o_orderdate"], 60)),
            "left_semi",
        )
        return late.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("order_count")
        )

    q["q4_order_priority"] = q4_order_priority

    def q9_product_profit(spark, sf):
        """TPC-H Q9 shape (nation/year profit over a 4-table join):
        profit = revenue − 0.5·p_retailprice·qty (retailprice stands in
        for the missing ps_supplycost) for widget parts, by supplier
        nation and order year."""
        li = load_table(spark, sf, "lineitem")
        part = load_table(spark, sf, "part").where(F.col("p_name").contains("widget"))
        sup = load_table(spark, sf, "supplier")
        nat = load_table(spark, sf, "nation")
        ords = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
        amount = _dec("l_extendedprice") * (1 - _dec("l_discount")) - _dec(
            "p_retailprice"
        ) * _dec("l_quantity") * F.lit(0.5).cast("decimal(18,6)")
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
            .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
            .join(ords, li["l_orderkey"] == ords["o_orderkey"])
            .groupBy(
                F.col("n_name").alias("nation"),
                F.year("o_orderdate").alias("o_year"),
            )
            .agg(
                F.round(F.sum(amount.cast("decimal(28,6)")).cast("double"), 2).alias(
                    "sum_profit"
                )
            )
        )

    q["q9_product_profit"] = q9_product_profit

    def q11_important_parts(spark, sf):
        """TPC-H Q11 shape (HAVING against a scalar-subquery threshold):
        parts whose revenue exceeds 0.05% of TOTAL revenue (lineitem
        stands in for partsupp).  The threshold compare is exact-decimal
        (val·10000 > total·5) so the boundary is engine-independent."""
        li = load_table(spark, sf, "lineitem")
        rev = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
            F.sum((_dec("l_extendedprice") * (1 - _dec("l_discount"))).cast(
                "decimal(28,6)"
            )).alias("val")
        )
        total = rev.agg(F.sum("val").alias("total"))
        return (
            rev.crossJoin(F.broadcast(total))
            .where(F.col("val") * 10000 > F.col("total") * 5)
            .select("p_key", F.round(F.col("val").cast("double"), 2).alias("value"))
        )

    q["q11_important_parts"] = q11_important_parts

    def q12_priority_by_status(spark, sf):
        """TPC-H Q12 shape (CASE-conditional counts after a fact join):
        for lineitems shipped in 1996, high- vs low-priority order counts
        by returnflag (returnflag stands in for shipmode)."""
        li = load_table(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        ords = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
        return (
            li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(
                F.sum(hi).alias("high_line_count"),
                F.sum(1 - hi).alias("low_line_count"),
            )
        )

    q["q12_priority_by_status"] = q12_priority_by_status

    def q13_customer_distribution(spark, sf):
        """TPC-H Q13 shape (left-join count distribution): how many
        customers placed exactly N non-LOW-priority orders, including
        the zero-order bucket (the LEFT join is the point)."""
        cust = load_table(spark, sf, "customer").select("c_custkey")
        ords = load_table(spark, sf, "orders").where(
            F.col("o_orderpriority") != "5-LOW"
        )
        per_cust = (
            cust.join(ords, cust["c_custkey"] == ords["o_custkey"], "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
        )
        return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))

    q["q13_customer_distribution"] = q13_customer_distribution

    def q15_top_supplier(spark, sf):
        """TPC-H Q15 shape (max-revenue equality against an aggregate
        view): supplier(s) with the maximum lineitem revenue over
        1996Q1.  Revenue stays exact decimal through the max-equality so
        ties resolve identically on both engines."""
        li = load_table(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        rev = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
            F.sum((_dec("l_extendedprice") * (1 - _dec("l_discount"))).cast(
                "decimal(28,6)"
            )).alias("total_rev")
        )
        mx = rev.agg(F.max("total_rev").alias("mx"))
        sup = load_table(spark, sf, "supplier")
        return (
            rev.crossJoin(F.broadcast(mx))
            .where(F.col("total_rev") == F.col("mx"))
            .join(F.broadcast(sup), F.col("sk") == sup["s_suppkey"])
            .select(
                "s_suppkey",
                "s_name",
                F.round(F.col("total_rev").cast("double"), 2).alias("total_revenue"),
            )
        )

    q["q15_top_supplier"] = q15_top_supplier

    def q16_supplier_counts(spark, sf):
        """TPC-H Q16 shape (NOT-IN anti-join + distinct supplier count):
        distinct suppliers per (brand, type, size) for mid-size non-PROMO
        parts outside Brand#1, excluding negative-balance suppliers
        (stand-in for the complaints NOT IN)."""
        li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
        part = load_table(spark, sf, "part").where(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").startswith("PROMO"))
            & (F.col("p_size").isin(5, 10, 15, 20, 25, 30))
        )
        bad = load_table(spark, sf, "supplier").where(F.col("s_acctbal") < 0).select(
            "s_suppkey"
        )
        return (
            li.join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
            .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        )

    q["q16_supplier_counts"] = q16_supplier_counts

    def q19_bracket_revenue(spark, sf):
        """TPC-H Q19 shape (OR of bracketed predicates pushed into one
        scan): revenue from three disjunct brand/size/quantity windows
        (p_size stands in for container classes)."""
        li = load_table(spark, sf, "lineitem")
        part = load_table(spark, sf, "part")
        j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        b = (
            (
                (F.col("p_brand") == "Brand#1")
                & F.col("p_size").between(1, 10)
                & F.col("l_quantity").between(1, 15)
            )
            | (
                (F.col("p_brand") == "Brand#2")
                & F.col("p_size").between(5, 20)
                & F.col("l_quantity").between(10, 25)
            )
            | (
                (F.col("p_brand") == "Brand#3")
                & F.col("p_size").between(10, 30)
                & F.col("l_quantity").between(20, 35)
            )
        )
        return j.where(b).agg(
            F.round(
                F.sum(
                    (_dec("l_extendedprice") * (1 - _dec("l_discount"))).cast(
                        "decimal(28,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )

    q["q19_bracket_revenue"] = q19_bracket_revenue

    def q20_excess_shippers(spark, sf):
        """TPC-H Q20 shape (nested-IN via aggregate-threshold join):
        suppliers who shipped more than 30% of a widget part's total 1996
        volume (shipped qty stands in for partsupp availqty); exact-
        decimal threshold (qty·10 > total·3)."""
        li = load_table(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        widget = load_table(spark, sf, "part").where(
            F.col("p_name").contains("widget")
        ).select("p_partkey")
        lw = li.join(F.broadcast(widget), li["l_partkey"] == F.col("p_partkey"))
        per_ps = lw.groupBy("l_partkey", "l_suppkey").agg(
            F.sum(_dec("l_quantity")).alias("qty")
        )
        per_p = per_ps.groupBy(F.col("l_partkey").alias("pk")).agg(
            F.sum("qty").alias("total_qty")
        )
        sup = load_table(spark, sf, "supplier")
        return (
            per_ps.join(per_p, per_ps["l_partkey"] == F.col("pk"))
            .where(F.col("qty") * 10 > F.col("total_qty") * 3)
            .groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_parts"))
            .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
            .select("s_suppkey", "s_name", "n_parts")
        )

    q["q20_excess_shippers"] = q20_excess_shippers

    def q21_waiting_suppliers(spark, sf):
        """TPC-H Q21 shape (EXISTS + NOT-EXISTS over sibling lineitems):
        suppliers who were the ONLY late shipper (>90 days after order
        date) on a finished multi-supplier order.  The oracle states it
        with literal EXISTS/NOT EXISTS; this plan is the aggregation
        rewrite (per-order supplier and late-supplier distinct counts)
        — the cross-check proves the rewrite."""
        li = load_table(spark, sf, "lineitem")
        ords = load_table(spark, sf, "orders").where(
            F.col("o_orderstatus") == "F"
        ).select("o_orderkey", "o_orderdate")
        late = (
            li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
            .where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
            .select("l_orderkey", "l_suppkey")
            .distinct()
        )
        n_sup = (
            li.join(ords, li["l_orderkey"] == ords["o_orderkey"], "left_semi")
            .groupBy(F.col("l_orderkey").alias("ok"))
            .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        )
        n_late = late.groupBy(F.col("l_orderkey").alias("lk")).agg(
            F.count(F.lit(1)).alias("n_late")
        )
        sup = load_table(spark, sf, "supplier")
        return (
            late.join(n_sup, late["l_orderkey"] == F.col("ok"))
            .join(n_late, late["l_orderkey"] == F.col("lk"))
            .where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
            .groupBy("l_suppkey")
            .agg(F.countDistinct("l_orderkey").alias("numwait"))
            .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
            .select("s_suppkey", "s_name", "numwait")
        )

    q["q21_waiting_suppliers"] = q21_waiting_suppliers

    def q22_dormant_customers(spark, sf):
        """TPC-H Q22 shape (scalar-subquery threshold + NOT-EXISTS anti
        join): above-average-balance customers with no orders at all,
        bucketed by nation-derived country code.  "No orders" is scoped
        to the 2000s (every synthetic customer has SOME order); the
        average is an exact-decimal sum divided as double so the strict
        > boundary is engine-independent."""
        cust = load_table(spark, sf, "customer")
        pos = cust.where(F.col("c_acctbal") > 0).agg(
            (
                F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))
            ).alias("avg_bal")
        )
        ords = (
            load_table(spark, sf, "orders")
            .where(F.col("o_orderdate") >= "2000-01-01")
            .select("o_custkey")
        )
        return (
            cust.crossJoin(F.broadcast(pos))
            .where(F.col("c_acctbal") > F.col("avg_bal"))
            .join(ords, cust["c_custkey"] == ords["o_custkey"], "left_anti")
            .groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
            .agg(
                F.count(F.lit(1)).alias("numcust"),
                F.round(F.sum(_dec("c_acctbal")).cast("double"), 2).alias("totacctbal"),
            )
        )

    q["q22_dormant_customers"] = q22_dormant_customers

    def q2_min_cost_supplier(spark, sf):
        """TPC-H Q2 shape (min-cost supplier per part): lineitem
        aggregated to (part, supplier, MIN extendedprice) stands in for
        partsupp/ps_supplycost.  ECONOMY parts of size < 15, suppliers
        in EUROPE; each part keeps only its minimum-cost EU supplier(s).
        The reference Q2's correlated-min subquery is expressed the
        Spark-idiomatic way — a per-part window MIN (one shuffle, no
        re-join of the candidate set against itself); the DuckDB oracle
        keeps the literal correlated subquery.  Top 100 by
        (s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey) — a
        fully unique sort so the LIMIT boundary is engine-independent."""
        li = load_table(spark, sf, "lineitem")
        part = load_table(spark, sf, "part").where(
            (F.col("p_type") == "ECONOMY") & (F.col("p_size") < 15)
        )
        sup = load_table(spark, sf, "supplier")
        nat = load_table(spark, sf, "nation")
        reg = load_table(spark, sf, "region").where(F.col("r_name") == "EUROPE")
        ps = li.groupBy("l_partkey", "l_suppkey").agg(
            F.min(_dec("l_extendedprice")).alias("ps_cost")
        )
        eu = (
            sup.join(
                F.broadcast(
                    nat.join(
                        F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]
                    ).select("n_nationkey", "n_name")
                ),
                sup["s_nationkey"] == F.col("n_nationkey"),
            )
            .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        )
        cand = ps.join(F.broadcast(part), ps["l_partkey"] == part["p_partkey"]).join(
            F.broadcast(eu), ps["l_suppkey"] == F.col("s_suppkey")
        )
        w = Window.partitionBy("p_partkey")
        return (
            cand.withColumn("min_cost", F.min("ps_cost").over(w))
            .where(F.col("ps_cost") == F.col("min_cost"))
            .select(
                "s_acctbal",
                "s_name",
                "n_name",
                "p_partkey",
                "p_name",
                "s_suppkey",
                F.round(F.col("ps_cost").cast("double"), 2).alias("supply_cost"),
            )
            .orderBy(
                F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "s_suppkey"
            )
            .limit(100)
        )

    q["q2_min_cost_supplier"] = q2_min_cost_supplier

    def join_fuzzy_tables(spark, sf):
        """Two-table fuzzy join (operators.joins.fuzzy_join): customer
        names linked to a reference subset within Levenshtein distance 1
        — SymSpell deletion-neighborhood blocking meets in an equi-join
        with an exact-distance verify, never an all-pairs theta join,
        and candidate dedup is keyed on md5-of-full-row (retry-proof)."""
        from plda_spark.operators import joins

        cust = load_table(spark, sf, "customer")
        left = cust.where(F.col("c_custkey") < 40).select("c_custkey", "c_name")
        right = cust.where(
            (F.col("c_custkey") < 40) & (F.col("c_custkey") % 10 < 2)
        ).select(
            F.col("c_custkey").alias("ref_key"), F.col("c_name").alias("ref_name")
        )
        return joins.fuzzy_join(left, right, "c_name", "ref_name", max_dist=1)

    q["join_fuzzy_tables"] = join_fuzzy_tables

    def join_fuzzy_pairs(spark, sf):
        """Approximate string self-join: supplier-name pairs within
        Levenshtein distance 1, blocked by SymSpell deletion
        neighborhoods (complete — equals the brute-force oracle) so the
        plan is an equi-join, never an all-pairs theta join."""
        from plda_spark.operators import joins

        supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
        return joins.fuzzy_pairs(supp, col="s_name", id_col="s_suppkey", max_dist=1)

    q["join_fuzzy_pairs"] = join_fuzzy_pairs

    def stats_histogram(spark, sf):
        """Equi-width histogram of order totals (25 bins over [0, 500k)),
        empty bins included — one map-side-combined aggregation plus a
        broadcast bin spine."""
        from plda_spark.operators import stats

        return stats.histogram(
            load_table(spark, sf, "orders"), "o_totalprice", lo=0.0, hi=500000.0, nbins=25
        )

    q["stats_histogram"] = stats_histogram

    def stats_cms_range(spark, sf):
        """Count-Min rollup: per-day sketches of user activity (depth 4,
        width 256) merged over Jan 8-22, probed for every distinct user
        — estimates are upper bounds on true counts, identical across
        engines because the hash family is md5-derived."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        sk = stats.cms_daily_sketches(ev, "user_id", "ts", depth=4, width=256)
        users = ev.select(F.col("user_id").alias("key")).distinct()
        return stats.cms_estimate(
            sk, users, width=256, start_day="2024-01-08", end_day="2024-01-22"
        )

    q["stats_cms_range"] = stats_cms_range

    def web_url_dedup(spark, sf):
        """URL canonicalization + crawl dedup: two spellings of every
        document URL (tracking params, mixed-case host, default port,
        fragment vs. bare) collapse to one canonical key; the dedup
        report returns each key with its dup count and first-crawled id.
        Canonicalization is per-row codegen'd regex; dedup is one hash
        aggregation on the canonical key."""
        from plda_spark.operators import web

        docs = load_table(spark, sf, "documents").select("doc_id", "source")
        raw = docs.select(
            "doc_id",
            F.explode(
                F.array(
                    F.concat(
                        F.lit("HTTP://"),
                        F.upper("source"),
                        F.lit(".Example.COM:80/docs/"),
                        F.col("doc_id").cast("string"),
                        F.lit("?utm_source=feed&utm_campaign=x#sec"),
                    ),
                    F.concat(
                        F.lit("http://"),
                        F.lower("source"),
                        F.lit(".example.com/docs/"),
                        F.col("doc_id").cast("string"),
                    ),
                )
            ).alias("url"),
        )
        return web.url_dedup(raw, url_col="url", id_col="doc_id")

    q["web_url_dedup"] = web_url_dedup

    def events_funnel(spark, sf):
        """Conversion funnel view→click→purchase with strict first-touch
        ordering: per-user state-machine fold over ONE shuffle of slim
        (user, ts, step) triples, then a |steps|-row summary."""
        from plda_spark.operators import events as ev

        return ev.funnel(
            load_table(spark, sf, "events"), ["view", "click", "purchase"]
        )

    q["events_funnel"] = events_funnel

    def events_retention(spark, sf):
        """Weekly retention triangle: cohort by first-active week, count
        actives per (cohort, weeks-since) — the event log collapses to
        distinct (user, week) rows before any window or join."""
        from plda_spark.operators import events as ev

        return ev.retention_cohorts(load_table(spark, sf, "events"))

    q["events_retention"] = events_retention

    def stats_ewma(spark, sf):
        """EWMA (α=0.5) over each user's daily event counts — the
        sequential recurrence packed per key and folded with JVM
        ``aggregate``; α=0.5 on integer counts keeps every smoothed
        value an exact dyadic rational, so the closed-form oracle sum
        is bit-identical."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        daily = (
            ev.select(
                F.col("user_id"),
                F.to_date("ts").cast("string").alias("day"),
            )
            .groupBy("user_id", "day")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = stats.ewma(daily, "user_id", "day", "n", alpha=0.5)
        return out.select(
            "key", "ts", "value", F.round("ewma", 6).alias("ewma")
        )

    q["stats_ewma"] = stats_ewma

    def curation_calibrate(spark, sf):
        """Cross-domain score calibration: length score → within-source
        percentile rank, so one global threshold selects the same
        fraction from every source."""
        from plda_spark.operators import curation

        docs = load_table(spark, sf, "documents").select(
            "doc_id", "source", F.col("n_chars").cast("double").alias("score")
        )
        return curation.calibrate_scores(docs, "score", "source").select(
            "doc_id", "source", "score", F.round("calibrated", 6).alias("calibrated")
        )

    q["curation_calibrate"] = curation_calibrate

    def sample_reservoir(spark, sf):
        """Exact-7-per-source deterministic sample: md5(seed, key) rank
        within group — same rows on any engine/partitioning; executed as
        a per-partition top-k (WindowGroupLimit), not a full group sort."""
        from plda_spark.operators.sampling import reservoir_per_group

        docs = load_table(spark, sf, "documents").select("doc_id", "source")
        return reservoir_per_group(docs, "source", k=7, key_col="doc_id")

    q["sample_reservoir"] = sample_reservoir

    def graph_triangles(spark, sf):
        """Global triangle count of the co-purchase graph (parts sharing
        an order) — degree-ordered wedge/closure equi-joins, each
        triangle counted once, hub fan-out bounded by oriented degree."""
        from plda_spark.operators import graph

        li = (
            load_table(spark, sf, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        a = li.alias("a")
        b = li.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
            )
            # no .distinct() here: triangles() normalizes (least/
            # greatest + distinct) as part of its contract, so the
            # query-level dedup was a redundant full shuffle of the
            # 1.2M-row edge list (round-11; result-identical)
        )
        return graph.triangles(edges)

    q["graph_triangles"] = graph_triangles

    def stats_mad_outliers(spark, sf):
        """Robust (modified z-score) per-type outlier scan over the same
        planted extremes as the zscore twin — median/MAD instead of
        mean/stddev, so the extremes cannot mask each other."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            "event_id",
            "event_type",
            F.when(F.col("event_id") % 997 == 0, F.col("value") * 50 + 1000)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        return stats.mad_outliers(ev, "event_type", "value", "event_id", k=3.5)

    q["stats_mad_outliers"] = stats_mad_outliers

    def curation_pipeline(spark, sf):
        """The END-TO-END curation pipeline in one verified composition:
        quality filter stack → exact dedup (keep first) → benchmark
        decontamination (5-gram overlap) → per-source mixture
        downsampling — each stage an already-verified operator; this
        query pins that they COMPOSE (lazy DataFrame views chain into
        one Catalyst plan, filters pushed through every stage)."""
        from plda_spark.operators import curation, dedup
        from plda_spark.operators.sampling import stratified_hash_sample

        docs = load_table(spark, sf, "documents")
        rules = [
            ("min_chars", F.col("n_chars") >= 200),
            ("has_alpha", F.col("text").rlike("[a-z]")),
        ]
        survivors, _ = curation.apply_filters(docs, rules)
        deduped = dedup.keep_best(survivors, ["doc_id"])
        bench = docs.where(F.col("doc_id") % 97 == 3).select("doc_id", "text")
        clean = dedup.decontaminate(
            deduped.select("doc_id", "text", "lang", "source", "n_chars"),
            bench,
            n=5,
        )
        final = stratified_hash_sample(
            clean, "source", {"src1": 100, "src5": 50}, default_pct=25
        )
        return final.select("doc_id", "source", "lang", "n_chars")

    q["curation_pipeline"] = curation_pipeline

    # ---- contract composites (one slot, several operators; the full
    # row-level outputs of each constituent stay verified standalone in
    # the extras registry) -------------------------------------------------

    def join_shapes(spark, sf):
        """Left / left-semi / left-anti / salted joins in one tagged
        query over a shared (op, key, n, val) schema — four join
        strategies, one driver-recorded slot.  Row-level outputs of each
        constituent are hash-checked in extras (join_left_customer_orders,
        join_semi_big_spenders, join_anti_customers_no_urgent,
        join_salted_skew)."""
        from plda_spark.operators.joins import salted_join

        cust = load_table(spark, sf, "customer")
        orders = load_table(spark, sf, "orders")
        big450 = orders.where(F.col("o_totalprice") > 450000)
        left = (
            cust.join(big450, cust["c_custkey"] == big450["o_custkey"], "left")
            .groupBy("c_custkey")
            .agg(
                F.count("o_orderkey").alias("n"),
                F.coalesce(
                    F.max(_dec("o_totalprice")).cast("double"), F.lit(0.0)
                ).alias("val"),
            )
            .select(
                F.lit("left").alias("op"),
                F.col("c_custkey").cast("string").alias("key"),
                "n",
                "val",
            )
        )
        big400 = orders.where(F.col("o_totalprice") > 400000)
        semi = (
            cust.join(big400, cust["c_custkey"] == big400["o_custkey"], "left_semi")
            .select(
                F.lit("semi").alias("op"),
                F.col("c_custkey").cast("string").alias("key"),
                F.lit(1).cast("long").alias("n"),
                F.lit(0.0).alias("val"),
            )
        )
        urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
        anti = (
            cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")
            .select(
                F.lit("anti").alias("op"),
                F.col("c_custkey").cast("string").alias("key"),
                F.lit(1).cast("long").alias("n"),
                F.lit(0.0).alias("val"),
            )
        )
        li = load_table(spark, sf, "lineitem")
        part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
        salted = (
            salted_join(
                li.select("l_orderkey", "l_partkey", "l_quantity"),
                part.withColumnRenamed("p_partkey", "l_partkey"),
                on="l_partkey",
                salt=8,
            )
            .groupBy("p_brand")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(_dec("l_quantity")).cast("double").alias("val"),
            )
            .select(
                F.lit("salted").alias("op"),
                F.col("p_brand").alias("key"),
                "n",
                "val",
            )
        )
        return left.unionAll(semi).unionAll(anti).unionAll(salted)

    q["join_shapes"] = join_shapes

    def grouping_sets_rollup_cube(spark, sf):
        """GROUPING SETS + ROLLUP + CUBE in one tagged query — all three
        multi-level grouping operators, one driver-recorded slot (the
        standalone grouping_sets_revenue / rollup_region_nation_revenue
        stay hash-checked in extras)."""
        gsets = grouping_sets_revenue(spark, sf).select(
            F.lit("gsets").alias("op"),
            F.col("r_name").alias("key1"),
            F.col("n_name").alias("key2"),
            F.col("total_revenue").alias("total_value"),
            "n_orders",
        )
        return rollup_region_nation_revenue(spark, sf).unionAll(gsets)

    q["grouping_sets_rollup_cube"] = grouping_sets_rollup_cube

    def text_quality_langid(spark, sf):
        """Per-document quality metrics + n-gram language ID in one row
        per doc (shared grain, one contract slot; standalone outputs stay
        hash-checked in extras)."""
        docs = load_table(spark, sf, "documents")
        return text.quality_score(docs).join(text.language_id(docs), "doc_id")

    q["text_quality_langid"] = text_quality_langid

    def text_corpus_stats(spark, sf):
        """TF-IDF + PMI collocations in one tagged query over a shared
        (kind, key_a, key_b, cnt, score) schema — both corpus-statistic
        joins, one contract slot."""
        docs = load_table(spark, sf, "documents")
        tfidf = text.tf_idf(docs).select(
            F.lit("tfidf").alias("kind"),
            F.col("doc_id").cast("string").alias("key_a"),
            F.col("word").alias("key_b"),
            F.lit(0).cast("long").alias("cnt"),
            F.col("tfidf").alias("score"),
        )
        coll = text.collocations(docs, min_count=5).select(
            F.lit("pmi").alias("kind"),
            F.col("a").alias("key_a"),
            F.col("b").alias("key_b"),
            F.col("c_ab").cast("long").alias("cnt"),
            F.col("pmi").alias("score"),
        )
        return tfidf.unionAll(coll)

    q["text_corpus_stats"] = text_corpus_stats

    def stats_anova_f(spark, sf):
        """One-way ANOVA F-test across ALL event types
        (operators/stats.py anova_f): one pass of per-group
        count/sum/sumsq moments -> SSB/SSW -> F, p via the Paulson
        normal approximation of the F tail (the drift family's
        k-group mean-shift member; kruskal_wallis is its rank-robust
        sibling).  ONE groupBy then scalar arithmetic on k rows."""
        from plda_spark.operators import stats

        return stats.anova_f(load_table(spark, sf, "events"), "event_type", "value")

    q["stats_anova_f"] = stats_anova_f

    def stats_levene_bf(spark, sf):
        """Brown-Forsythe variance-homogeneity test across event types
        (operators/stats.py levene_bf): exact per-group medians
        (percentile_cont parity), broadcast back, |x - med_g|
        deviations, then the one-way ANOVA F on the deviations — the
        VARIANCE-shift member of the drift family, and the assumption
        check for stats_anova_f's pooled variance.  One median
        aggregation + one broadcast join + one moment aggregation."""
        from plda_spark.operators import stats

        return stats.levene_bf(load_table(spark, sf, "events"), "event_type", "value")

    q["stats_levene_bf"] = stats_levene_bf

    def stats_paired_ttest(spark, sf):
        """Paired t-test of click vs purchase DAILY mean values
        (operators/stats.py paired_ttest): per-day conditional means,
        days holding both groups pair up, t on the n_days differences
        — pairing removes the day-to-day variance an unpaired Welch
        test drowns in.  ONE keyed aggregation then one scalar moment
        pass over |days| rows."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").withColumn(
            "day", F.to_date("ts")
        )
        return stats.paired_ttest(
            ev, "day", "event_type", "value", "click", "purchase"
        )

    q["stats_paired_ttest"] = stats_paired_ttest

    def events_abtest(spark, sf):
        """Two-proportion A/B readout (operators/stats.py
        two_proportion_ztest over operators/sampling.py hash_bucket):
        users deterministically md5-assigned to variants A/B, success
        = made a purchase with value > 100 (ONE row per user — the
        binomial unit contract in the docstring), pooled-SE z-test +
        unpooled Wald 95% CI on the lift.  One per-user aggregation,
        one conditional aggregation, scalar arithmetic."""
        from plda_spark.operators import stats
        from plda_spark.operators.sampling import hash_bucket

        per_user = (
            load_table(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.max(
                    (
                        (F.col("event_type") == "purchase")
                        & (F.col("value") > 100)
                    ).cast("int")
                ).alias("converted")
            )
        )
        assigned = per_user.select(
            F.when(hash_bucket(F.col("user_id"), 2) == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "converted",
        )
        return stats.two_proportion_ztest(
            assigned, "variant", "converted", "A", "B"
        )

    q["events_abtest"] = events_abtest

    def ml_ols(spark, sf):
        """Two-regressor OLS in closed form (operators/stats.py ols2):
        l_extendedprice ~ l_quantity + l_discount from ONE aggregation
        of raw moments — normal equations on the centered 2x2 Gram,
        Cramer's rule, R2/RMSE from the sum identities.  The
        distributed regression primitive: no iterative solver, no
        driver-side rows, nothing shuffles but 9 sum partials."""
        from plda_spark.operators import stats

        return stats.ols2(
            load_table(spark, sf, "lineitem"),
            "l_quantity", "l_discount", "l_extendedprice",
        )

    q["ml_ols"] = ml_ols

    def ml_pca2(spark, sf):
        """Exact closed-form 2-D PCA over the first two embedding
        dimensions (operators/stats.py pca2_summary): one aggregation
        of 5 sums -> analytic 2x2 eigenvalues, sign-fixed leading
        eigenvector, explained-variance share — the fully-distributed,
        SQL-replayable complement of similarity.pca_project's
        sample-learned high-dim basis."""
        from plda_spark.operators import stats

        emb = load_table(spark, sf, "embeddings").select(
            F.col("embedding").getItem(0).alias("x"),
            F.col("embedding").getItem(1).alias("y"),
        )
        return stats.pca2_summary(emb, "x", "y")

    q["ml_pca2"] = ml_pca2

    def rec_item_cf(spark, sf):
        """Item-item collaborative filtering (operators/events.py
        item_item_cf — Sarwar WWW'01 / Linden IEEE-IC'03): order
        baskets of part groups (l_partkey % 100 bounds the catalog the
        way the pagerank queries bound their graph), cosine over the
        binary basket-item matrix, top-5 neighbors per item via one
        item-keyed rank window.  The a-priori pruning discipline of
        events_assoc_rules: support-filter BEFORE the basket
        self-join, baskets capped at 500 items."""
        from plda_spark.operators import events as ev_ops

        li = load_table(spark, sf, "lineitem").select(
            F.col("l_orderkey").alias("basket"),
            (F.col("l_partkey") % 100).alias("pg"),
        )
        return ev_ops.item_item_cf(
            li, user_col="basket", item_col="pg", k=5, min_support=5
        )

    q["rec_item_cf"] = rec_item_cf

    def graph_kcore(spark, sf):
        """k-core membership at k=20, 8 peel rounds
        (operators/graph.py kcore — Seidman 1983), over the same
        deterministic synthetic link graph as graph_pagerank
        (custkey%100 <-> orderkey%100, symmetrized); the DuckDB oracle
        unrolls the identical peel rounds as MATERIALIZED CTEs.  Each
        round: one degree aggregation + two node-keyed semi-joins on
        the monotonically shrinking edge frame."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        return graph.kcore(e, k=20, n_rounds=8)

    q["graph_kcore"] = graph_kcore

    def ml_logreg(spark, sf):
        """Two-feature logistic regression by fixed-round IRLS
        (operators/stats.py logreg2): P(purchase) ~ value + hour, 5
        Newton rounds, each ONE 9-moment weighted aggregation + a
        driver-side 3x3 Cramer solve (scalars only), coefficients
        7-decimal-rounded per round — the cross-engine resync that
        lets the DuckDB oracle unroll the IDENTICAL rounds as
        materialized CTEs.  The iterative sibling of ml_ols."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            F.col("value"),
            F.hour("ts").alias("hod"),
            (F.col("event_type") == "purchase").cast("int").alias("label"),
        )
        return stats.logreg2(ev, "value", "hod", "label", n_iter=5)

    q["ml_logreg"] = ml_logreg

    def stats_kendall_tau(spark, sf):
        """Kendall tau-b between hour-of-day and the value decade bin
        (operators/stats.py kendall_tau): concordant/discordant pair
        mass over the PRE-AGGREGATED cell table — the bounded
        |cells|^2 contract of stats_trend's slope pairs, enforced by
        the max_cells pre-check — tie corrections from the marginals,
        Kendall-1938 normal z through the shared Phi polynomial."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            F.hour("ts").alias("hod"),
            F.floor(F.col("value") / 10).alias("vbin"),
        )
        return stats.kendall_tau(ev, "hod", "vbin")

    q["stats_kendall_tau"] = stats_kendall_tau

    def stats_cochran_armitage(spark, sf):
        """Cochran-Armitage trend of purchase share across hour-of-day
        (operators/stats.py cochran_armitage — Armitage 1955): the
        ORDERED-score member of the categorical family (chi2 asks
        'any association?'; this tests the linear-in-score dose-
        response directly).  ONE score-keyed aggregation, scalar
        arithmetic on the 24-row frame."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            F.hour("ts").alias("hod"),
            (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        )
        return stats.cochran_armitage(ev, "hod", "is_p")

    q["stats_cochran_armitage"] = stats_cochran_armitage

    def events_ab_power(spark, sf):
        """Minimum-detectable-effect readout for the SAME experiment
        events_abtest judges (operators/stats.py ab_power_mde, Fleiss
        sizing formula at alpha=0.05 / power=0.8): an insignificant
        A/B verdict with an MDE above the lift you care about is an
        UNDERPOWERED test, not a null result.  Same md5 assignment,
        same one-row-per-user conversion dedup, one conditional
        aggregation."""
        from plda_spark.operators import stats
        from plda_spark.operators.sampling import hash_bucket

        per_user = (
            load_table(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.max(
                    (
                        (F.col("event_type") == "purchase")
                        & (F.col("value") > 100)
                    ).cast("int")
                ).alias("converted")
            )
        )
        assigned = per_user.select(
            F.when(hash_bucket(F.col("user_id"), 2) == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "converted",
        )
        return stats.ab_power_mde(
            assigned, "variant", "converted", "A", "B"
        )

    q["events_ab_power"] = events_ab_power

    def join_asof_nearest(spark, sf):
        """NEAREST as-of join (operators/joins.py as_of_join,
        direction='nearest' — the third pandas merge_asof direction,
        previously untested by the hash gate): each purchase picks the
        same user's CLOSEST view in time, backward winning exact ties.
        Still ONE shuffle of |L|+|R| rows — both scans ride the same
        key partitioning."""
        from plda_spark.operators import joins

        ev = load_table(spark, sf, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        views = (
            ev.where(F.col("event_type") == "view")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("view_id"))
        )
        return joins.as_of_join(
            purchases, views, on="user_id", direction="nearest"
        )

    q["join_asof_nearest"] = join_asof_nearest

    def text_textrank(spark, sf):
        """TextRank extractive key-sentence selection (operators/
        text.py textrank_sentences — Mihalcea & Tarau EMNLP'04) over
        the deterministic sentence boundaries of text_split_sentences:
        distinct-token overlap similarity, 3 weighted in-doc PageRank
        rounds from 1.0, top-2 sentences per doc (round-6 score rank,
        position tie-break).  The (doc, token)-keyed overlap join is
        sentences^2-bounded per doc (500-sentence cap); edges +
        out-strengths checkpoint once, the oracle unrolls the rounds."""
        from plda_spark.operators import text

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        marked = docs.select(
            "doc_id",
            F.replace(
                F.col("text"), F.lit(" the "), F.lit(". The ")
            ).alias("text"),
        )
        return text.textrank_sentences(marked, n_iter=3, top_k=2)

    q["text_textrank"] = text_textrank

    def stream_abtest(spark, sf):
        """Streaming A/B verdict end to end (streaming/windows.py
        incremental_ab_ledger + abtest_from_ledger): the events table
        arrives as TWO event_id-parity micro-batch waves (the
        stream_hist_psi harness), each appending per-user conversion
        partials to the set-semantics ledger; the readout dedups users
        across batches with max(converted), md5-assigns variants, and
        runs the pooled-SE z-test — hash-gated against the IDENTICAL
        oracle as the batch events_abtest, which is the parity claim."""
        state = _ab_ledger(spark, sf, "plda_abtest_")
        return windows.abtest_from_ledger(spark, state)

    q["stream_abtest"] = stream_abtest

    def stats_by_fdr(spark, sf):
        """Benjamini-Yekutieli FDR over the SAME one-vs-rest drift
        screen as stats_bh_fdr (operators/stats.py by_fdr): the
        one-vs-rest tests share the global moments, so the BH
        independence assumption is indefensible — BY deflates by the
        harmonic c(m) and stays valid under arbitrary dependence.
        |tests| rows end to end."""
        from plda_spark.operators import stats

        tests = stats.group_mean_shift_tests(
            load_table(spark, sf, "events"), "event_type", "value"
        )
        return stats.by_fdr(tests, "group", "p_value", alpha=0.05)

    q["stats_by_fdr"] = stats_by_fdr

    def events_uplift_segments(spark, sf):
        """Heterogeneous-treatment-effect screen (operators/stats.py
        uplift_by_segment): the events_abtest experiment broken out by
        user-activity segment (min(floor(n_events/25), 3)), pooled-SE
        z per segment from ONE grouped aggregation, BH-corrected
        across segments — the overall verdict can hide a lift
        concentrated in one tier, and k raw segment tests are the
        multiple-testing trap the q-values close."""
        from plda_spark.operators import stats
        from plda_spark.operators.sampling import hash_bucket

        per_user = (
            load_table(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.max(
                    (
                        (F.col("event_type") == "purchase")
                        & (F.col("value") > 100)
                    ).cast("int")
                ).alias("converted"),
                F.count(F.lit(1)).alias("n_ev"),
            )
        )
        assigned = per_user.select(
            F.least(F.floor(F.col("n_ev") / 25), F.lit(3))
            .cast("string")
            .alias("segment"),
            F.when(hash_bucket(F.col("user_id"), 2) == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "converted",
        )
        return stats.uplift_by_segment(
            assigned, "segment", "variant", "converted", "A", "B"
        )

    q["events_uplift_segments"] = events_uplift_segments

    def graph_powerlaw(spark, sf):
        """Degree-distribution power-law MLE (operators/graph.py
        degree_powerlaw — Clauset/Shalizi/Newman 2009 discrete MLE
        with the -1/2 correction) at dmin=20 over the same synthetic
        link graph as graph_pagerank: the scale-free-ness diagnostic
        to run before trusting hub-sensitive operators.  One degree
        aggregation + one scalar aggregation."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        return graph.degree_powerlaw(e, dmin=20)

    q["graph_powerlaw"] = graph_powerlaw

    def ml_knn(spark, sf):
        """k-NN classification audit over the embeddings table
        (operators/similarity.py knn_classify — Cover & Hart 1967):
        a BOUNDED eval set (the 200 lowest vec_ids of the % 10 == 0
        held-out stripe — deterministic and absolute, so the broadcast
        test batch stays small no matter the corpus SF), exact cosine
        top-5 from the train remainder, deterministic (count DESC,
        label ASC) majority vote.  knn_classify's self-enforcing
        max_test_rows pre-check refuses unbounded eval sets; IVF/LSH
        are the corpus-scale neighbor path."""
        from plda_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        test = (
            emb.where(F.col("vec_id") % 10 == 0)
            .orderBy("vec_id")
            .limit(200)
        )
        train = emb.where(F.col("vec_id") % 10 != 0)
        return similarity.knn_classify(train, test, k=5)

    q["ml_knn"] = ml_knn

    def graph_modularity(spark, sf):
        """Newman modularity of the LPA partition (operators/graph.py
        modularity over label_propagation): the same planted-block
        graph and 2 LPA rounds as graph_lpa, scored with
        Q = sum(e_c/m - (deg_c/2m)^2) — the number that says whether
        the recovered blocks are real structure (the planted blocks
        score far above 0).  Two label joins + two per-label
        aggregations past the LPA rounds."""
        from plda_spark.operators import graph

        orders = load_table(spark, sf, "orders")
        src = F.col("o_custkey") % 200
        e = (
            orders.select(
                src.alias("src"),
                (src - src % 10 + F.col("o_orderkey") % 10).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        comm = graph.label_propagation(e, n_iter=2)
        return graph.modularity(e, comm)

    q["graph_modularity"] = graph_modularity

    def privacy_dp_quantile(spark, sf):
        """epsilon-DP median release via the exponential mechanism
        (operators/privacy.py dp_quantile — McSherry-Talwar 2007):
        integer-rounded event values as the candidate set (the
        bounded-cardinality contract), utility -|rank - q*n|,
        max-shifted exp weights, one md5-deterministic inverse-CDF
        draw (the dp_noisy_counts replayability caveat applies) —
        alongside the exact quantile for the audit comparison.  Every
        window runs over |distinct values| rows."""
        from plda_spark.operators import privacy

        ev = load_table(spark, sf, "events").select(
            F.round("value", 0).alias("vr")
        )
        return privacy.dp_quantile(ev, "vr", q=0.5, epsilon=1.0, seed=7)

    q["privacy_dp_quantile"] = privacy_dp_quantile

    def curation_pareto_docs(spark, sf):
        """2-D Pareto frontier / skyline (operators/curation.py
        pareto_front_2d — Borzsonyi ICDE'01) of documents maximizing
        BOTH token count and unique-token count over the token_stats
        surface: the multi-criteria doc-selection primitive a single
        quality score flattens.  One per-x aggregation + ONE ordered
        window over |distinct x| + an id-recovery join, max_distinct-
        enforced."""
        from plda_spark.operators import curation, text

        stats_df = text.token_stats(
            load_table(spark, sf, "documents")
        ).select("doc_id", "n_tokens", "n_unique")
        return curation.pareto_front_2d(
            stats_df, "n_tokens", "n_unique", id_col="doc_id"
        )

    q["curation_pareto_docs"] = curation_pareto_docs

    def graph_assortativity(spark, sf):
        """Degree assortativity (operators/graph.py assortativity —
        Newman 2002): Pearson correlation of endpoint degrees over the
        symmetrized edge stubs of the same synthetic link graph as
        graph_powerlaw — do hubs link to hubs?  One canonical-edge
        distinct + one degree agg + two node-keyed joins + one scalar
        corr aggregation."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        return graph.assortativity(e)

    q["graph_assortativity"] = graph_assortativity

    def graph_clustering(spark, sf):
        """Global transitivity + average local clustering coefficient
        (operators/graph.py clustering_coefficients — Watts-Strogatz
        1998 / Newman 2003) over the graph_powerlaw link graph: the
        degree-ordered oriented-intersection triangle core with
        exact per-corner attribution, one per-node count, one scalar
        aggregation."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        return graph.clustering_coefficients(e)

    q["graph_clustering"] = graph_clustering

    def graph_reciprocity(spark, sf):
        """Directed-graph reciprocity (operators/graph.py reciprocity
        — Newman 2003 §III.C): the fraction of directed edges whose
        reverse exists, over a directed mod-60 orders graph.  One
        distinct + one reversed-key self-equi-join + one scalar
        aggregation."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 60)
        return graph.reciprocity(e)

    q["graph_reciprocity"] = graph_reciprocity

    def classify_auc(spark, sf):
        """Threshold-free score evaluation (operators/classify.py
        roc_auc_report — Hanley-McNeil rank AUC + Brier + log-loss):
        does a sigmoid of event value separate purchases from the
        rest?  ~0.5 on the synthetic stream is the honest answer —
        exactly what the audit exists to reveal.  One per-distinct-
        score count aggregation (max_distinct-enforced) + one ordered
        window over |distinct scores| + one moment pass."""
        from plda_spark.operators import classify

        ev = load_table(spark, sf, "events").where(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        scored = ev.select(
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("value") / 100.0)),
                3,
            ).alias("score"),
            (F.col("event_type") == "purchase").cast("int").alias("label"),
        )
        return classify.roc_auc_report(scored, "score", "label")

    q["classify_auc"] = classify_auc

    def stats_cohens_kappa(spark, sf):
        """Chance-corrected agreement (operators/stats.py cohens_kappa
        — Cohen 1960) between the labeled document language and the
        stopword-lexicon language_id prediction: the annotator-quality
        number behind labeling ops.  One contingency aggregation +
        marginal joins over |languages| rows."""
        from plda_spark.operators import stats, text

        docs = load_table(spark, sf, "documents")
        pred = text.language_id(docs).select("doc_id", "pred_lang")
        joined = docs.select("doc_id", "lang").join(pred, "doc_id")
        return stats.cohens_kappa(joined, "lang", "pred_lang")

    q["stats_cohens_kappa"] = stats_cohens_kappa

    def text_rank_eval(spark, sf):
        """TREC-style retrieval evaluation (operators/invindex.py
        rank_eval — Järvelin-Kekäläinen nDCG@10, MRR, AP): a tf-ranked
        run for five corpus terms scored against graded position-based
        qrels (rel 2 = term in the doc's first 3 tokens, rel 1 = in
        the first 15) — does raw term frequency retrieve the docs
        that LEAD with the term?  Candidate-list windows (rrf_fuse
        contract), (query, doc) equi-joins, |queries| rows after the
        per-query aggregation."""
        from plda_spark.operators import invindex
        from plda_spark.operators.text import tokens_col

        terms = ["query", "order", "table", "join", "hash"]
        docs = load_table(spark, sf, "documents")
        t = tokens_col("text")
        run_entries = []
        rel_entries = []
        for term in terms:
            # NB: a 2-arg lambda in F.filter means (element, index) —
            # bind the term literal OUTSIDE the lambda
            term_lit = F.lit(term)
            tf = F.size(F.filter(t, lambda x: x == term_lit))
            run_entries.append(
                F.struct(
                    F.lit(term).alias("query_id"),
                    tf.cast("double").alias("score"),
                )
            )
            rel = (
                F.when(F.array_contains(F.slice(t, 1, 3), term), F.lit(2.0))
                .when(F.array_contains(F.slice(t, 1, 15), term), F.lit(1.0))
                .otherwise(F.lit(0.0))
            )
            rel_entries.append(
                F.struct(F.lit(term).alias("query_id"), rel.alias("rel"))
            )
        run = (
            docs.select(
                "doc_id", F.explode(F.array(*run_entries)).alias("e")
            )
            .select(
                F.col("e.query_id").alias("query_id"),
                "doc_id",
                F.col("e.score").alias("score"),
            )
            .where(F.col("score") > 0)
        )
        qrels = (
            docs.select(
                "doc_id", F.explode(F.array(*rel_entries)).alias("e")
            )
            .select(
                F.col("e.query_id").alias("query_id"),
                "doc_id",
                F.col("e.rel").alias("rel"),
            )
            .where(F.col("rel") > 0)
        )
        return invindex.rank_eval(run, qrels, k=10)

    q["text_rank_eval"] = text_rank_eval

    def stats_brown_smoothing(spark, sf):
        """Brown double exponential smoothing (operators/stats.py
        brown_smoothing — level+trend forecasting between ewma and
        seasonal_decompose) of the daily event value series at
        alpha=0.3: one daily rollup collapses the corpus, then the
        recurrences run closed-form as |days|² weighted pair joins
        (all exponents >= 0 — no overflow at any length)."""
        from plda_spark.operators import stats

        return stats.brown_smoothing(
            load_table(spark, sf, "events"), "ts", "value", alpha=0.3
        )

    q["stats_brown_smoothing"] = stats_brown_smoothing

    def ml_decision_stump(spark, sf):
        """CART-style best single split (operators/classify.py
        decision_stump — weighted-Gini argmin over distinct
        thresholds, max_distinct-enforced): does integer-rounded
        event value split purchases from the rest?  One per-value
        count aggregation + cumulative window + bounded argmin."""
        from plda_spark.operators import classify

        ev = load_table(spark, sf, "events").select(
            F.round("value", 0).alias("vr"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
        return classify.decision_stump(ev, "vr", "y")

    q["ml_decision_stump"] = ml_decision_stump

    def events_ab_srm(spark, sf):
        """Sample-ratio-mismatch guardrail (operators/stats.py
        ab_srm_check — chi-squared goodness-of-fit against the design
        split, Wilson-Hilferty p): a three-arm user_id%3 assignment
        audited against the designed 1/1/1 split.  One variant-keyed
        count aggregation; |variants| rows survive."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            F.when(F.col("user_id") % 3 == 0, "A")
            .when(F.col("user_id") % 3 == 1, "B")
            .otherwise("C")
            .alias("variant")
        )
        return stats.ab_srm_check(
            ev, "variant", {"A": 1.0, "B": 1.0, "C": 1.0}
        )

    q["events_ab_srm"] = events_ab_srm

    def stats_combine_pvalues(spark, sf):
        """Global meta-verdict over the one-vs-rest mean-shift screen
        (operators/stats.py combine_pvalues — Fisher 1932 with the
        EXACT even-dof chi-squared survival series + Stouffer 1949
        from the screen's own z-stats): does ANY event type's value
        distribution move, jointly?  One aggregation over the
        |groups|-row screen output."""
        from plda_spark.operators import stats

        screen = stats.group_mean_shift_tests(
            load_table(spark, sf, "events"), "event_type", "value"
        )
        return stats.combine_pvalues(screen, "p_value", z_col="z")

    q["stats_combine_pvalues"] = stats_combine_pvalues

    def stats_tost(spark, sf):
        """TOST equivalence test (operators/stats.py tost_equivalence
        — Schuirmann 1987): are view and click event values equivalent
        within a ±5.0 margin?  The launch-review question a
        non-significant welch test can't answer.  ONE filtered moment
        aggregation; scalar arithmetic after."""
        from plda_spark.operators import stats

        return stats.tost_equivalence(
            load_table(spark, sf, "events"),
            "event_type",
            "value",
            "view",
            "click",
            margin=5.0,
        )

    q["stats_tost"] = stats_tost

    def stats_xi_daily(spark, sf):
        """Chatterjee xi rank correlation of the daily value series
        against calendar order (operators/stats.py
        xi_correlation_daily — Chatterjee 2020): detects ANY
        functional time-dependence, not just the monotone trends
        Mann-Kendall sees.  Daily rollup + two |days| windows."""
        from plda_spark.operators import stats

        return stats.xi_correlation_daily(
            load_table(spark, sf, "events"), "ts", "value"
        )

    q["stats_xi_daily"] = stats_xi_daily

    def events_capture_recapture(spark, sf):
        """Chapman capture-recapture population estimate
        (operators/stats.py capture_recapture — Chapman 1951): users
        seen in the first half of January vs users seen after — how
        many users exist that NEITHER window observed?  Two distinct
        aggregations + one full-outer id join."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        first = ev.where(F.to_date("ts") <= F.lit("2024-01-15"))
        rest = ev.where(F.to_date("ts") > F.lit("2024-01-15"))
        return stats.capture_recapture(first, rest, "user_id")

    q["events_capture_recapture"] = events_capture_recapture

    def graph_bfs(spark, sf):
        """Bounded BFS hop distances (operators/graph.py bfs_distances
        — the takedown blast-radius / frontier-scoping primitive) from
        seeds {0, 7} within 2 hops of the graph_powerlaw link graph.
        Per round ONE frontier-edge equi-join + one anti-join; the
        oracle unrolls the identical shells."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        return graph.bfs_distances(e, [0, 7], max_hops=2)

    q["graph_bfs"] = graph_bfs

    def curation_dataset_card(spark, sf):
        """One-row dataset card (operators/curation.py dataset_card —
        the quantitative Datasheets-for-Datasets summary): corpus
        size, md5-exact duplicate rate, token volume, language/source
        composition with top-share argmins.  One corpus aggregation +
        two bounded composition aggregations."""
        from plda_spark.operators import curation

        return curation.dataset_card(load_table(spark, sf, "documents"))

    q["curation_dataset_card"] = curation_dataset_card

    def sample_maxcover(spark, sf):
        """Greedy submodular max-coverage selection (operators/
        sampling.py max_coverage_select — Nemhauser 1978 greedy on the
        facility-location coverage objective): 5 documents jointly
        covering the most of the top-500 BIGRAM universe (the
        unigram vocabulary saturates in one pick on this corpus).
        One bounded vocab argmax + 5 literal-fold map+TakeOrdered
        passes over the checkpointed (id, units) projection; the
        oracle unrolls the identical greedy steps."""
        from plda_spark.operators import sampling

        return sampling.max_coverage_select(
            load_table(spark, sf, "documents"),
            k=5,
            vocab_size=500,
            ngram=2,
        )

    q["sample_maxcover"] = sample_maxcover

    def stats_ljung_box(spark, sf):
        """Ljung-Box whiteness test at 7 lags (operators/stats.py
        ljung_box — the joint is-there-ANY-autocorrelation verdict
        over acf_daily's published estimates).  Corpus → |days|
        rollup → |lags|-row aggregation; Wilson-Hilferty p."""
        from plda_spark.operators import stats

        return stats.ljung_box(
            load_table(spark, sf, "events"), "ts", "value", lags=7
        )

    q["stats_ljung_box"] = stats_ljung_box

    def events_retention_halflife(spark, sf):
        """Exponential retention-decay fit (operators/events.py
        retention_decay_fit): weekly-period retention from first
        event, log-linear least squares, halflife = -ln2/slope.  One
        per-user min + one user-keyed join + |periods|-row closed-form
        fit."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.retention_decay_fit(
            load_table(spark, sf, "events"),
            period_days=7,
            max_periods=4,
        )

    q["events_retention_halflife"] = events_retention_halflife

    def stream_ab_srm(spark, sf):
        """Streaming SRM guardrail over the live A/B ledger
        (streaming/windows.py srm_from_ledger): the events table
        arrives as TWO event_id-parity micro-batch waves appending to
        the set-semantics conversion ledger; the readout dedups users,
        md5-assigns variants exactly like abtest_from_ledger, and runs
        the chi-squared goodness-of-fit against the designed 50/50 —
        the health gate a biased ingest would trip.  Hash-gated
        against the batch twin computed straight from events."""
        state = _ab_ledger(spark, sf, "plda_absrm_")
        return windows.srm_from_ledger(spark, state)

    q["stream_ab_srm"] = stream_ab_srm

    def stats_mcnemar(spark, sf):
        """McNemar paired classifier comparison (operators/stats.py
        mcnemar_test — Dietterich 1998's recommendation): is the
        stopword-lexicon language_id actually better than the
        always-'en' majority baseline ON THE SAME documents?  Only
        discordant pairs carry information.  One aggregation over the
        paired correctness frame."""
        from plda_spark.operators import stats, text

        docs = load_table(spark, sf, "documents")
        pred = text.language_id(docs).select("doc_id", "pred_lang")
        paired = docs.select("doc_id", "lang").join(pred, "doc_id").select(
            (F.col("pred_lang") == F.col("lang")).cast("int").alias("a_ok"),
            (F.col("lang") == "en").cast("int").alias("b_ok"),
        )
        return stats.mcnemar_test(paired, "a_ok", "b_ok")

    q["stats_mcnemar"] = stats_mcnemar

    def stats_runs_daily(spark, sf):
        """Wald-Wolfowitz runs test (operators/stats.py
        runs_test_daily) on the signs of day-over-day changes of the
        daily value series — do moves cluster (momentum) or alternate
        (mean reversion)?  Daily rollup + two |days| windows + one
        scalar aggregation."""
        from plda_spark.operators import stats

        return stats.runs_test_daily(
            load_table(spark, sf, "events"), "ts", "value"
        )

    q["stats_runs_daily"] = stats_runs_daily

    def stats_granger_daily(spark, sf):
        """Lag-1 Granger-style predictive screen (operators/stats.py
        granger_daily): does yesterday's event VOLUME predict today's
        VALUE beyond yesterday's value?  Incremental-R2 F-test between
        the nested closed-form fits over the |days| rollup; Paulson F
        tail."""
        from plda_spark.operators import stats

        return stats.granger_daily(
            load_table(spark, sf, "events"), "ts", "value"
        )

    q["stats_granger_daily"] = stats_granger_daily

    def stats_pacf_daily(spark, sf):
        """Partial autocorrelations at lags 1-3 via unrolled
        Durbin-Levinson (operators/stats.py pacf_daily) over
        acf_daily's published estimates — the AR-order picker
        completing the Box-Jenkins identification triad.  Corpus →
        |days| rollup → 3-row pivot + scalar recursion."""
        from plda_spark.operators import stats

        return stats.pacf_daily(
            load_table(spark, sf, "events"), "ts", "value"
        )

    q["stats_pacf_daily"] = stats_pacf_daily

    def text_burstiness(spark, sf):
        """Church-Gale term burstiness (operators/text.py
        term_burstiness): VMR with zero-docs included via moment
        identities + the P(2+|1+) adaptation rate for the top-20
        terms.  One explode + one term aggregation + bounded top-k."""
        from plda_spark.operators import text

        return text.term_burstiness(
            load_table(spark, sf, "documents"), top_k=20
        )

    q["text_burstiness"] = text_burstiness

    def stats_effect_size(spark, sf):
        """Cohen's d / Hedges' g effect size with the large-sample CI
        (operators/stats.py effect_size) between view and purchase
        event values — the MAGNITUDE readout next to every
        significance verdict.  One filtered moment aggregation."""
        from plda_spark.operators import stats

        return stats.effect_size(
            load_table(spark, sf, "events"),
            "event_type",
            "value",
            "view",
            "purchase",
        )

    q["stats_effect_size"] = stats_effect_size

    def stats_mean_mde(spark, sf):
        """Minimum detectable mean difference of the live view-vs-
        purchase comparison (operators/stats.py mean_power_mde — the
        continuous dual of events_ab_power): the underpowered-test
        catcher for value metrics.  One filtered moment
        aggregation."""
        from plda_spark.operators import stats

        return stats.mean_power_mde(
            load_table(spark, sf, "events"),
            "event_type",
            "value",
            "view",
            "purchase",
        )

    q["stats_mean_mde"] = stats_mean_mde

    def events_cuped(spark, sf):
        """CUPED variance-reduced A/B verdict (operators/stats.py
        cuped_ztest — Deng-Xu-Kohavi-Walker 2013): per-user
        pre-period value (first half of January) adjusts the
        experiment-period metric, md5 variants, pooled theta — the
        sensitivity-for-free experimentation readout.  One per-user
        aggregation + one variant-keyed moment aggregation; scalars
        after."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").where(
            F.col("user_id").isNotNull() & F.col("value").isNotNull()
        )
        day = F.to_date("ts")
        per_user = ev.groupBy("user_id").agg(
            F.sum(
                F.when(day <= F.lit("2024-01-15"), F.col("value")).otherwise(
                    F.lit(0.0)
                )
            ).alias("pre"),
            F.sum(
                F.when(day > F.lit("2024-01-15"), F.col("value")).otherwise(
                    F.lit(0.0)
                )
            ).alias("post"),
        )
        from plda_spark.operators.sampling import hash_bucket

        units = per_user.select(
            "user_id",
            "pre",
            "post",
            F.when(hash_bucket(F.col("user_id"), 2) == 0, "A")
            .otherwise("B")
            .alias("variant"),
        )
        return stats.cuped_ztest(
            units, "user_id", "post", "pre", "variant", "A", "B"
        )

    q["events_cuped"] = events_cuped

    def events_msprt(spark, sf):
        """Always-valid mSPRT verdict (operators/stats.py
        msprt_always_valid — Johari et al. KDD 2017): the
        peeking-safe p-value for the view-vs-click value comparison
        at tau=5.  One filtered moment aggregation; read it per
        micro-batch and the guarantee holds — that is the point."""
        from plda_spark.operators import stats

        return stats.msprt_always_valid(
            load_table(spark, sf, "events"),
            "event_type",
            "value",
            "view",
            "click",
            tau=5.0,
        )

    q["events_msprt"] = events_msprt

    def text_yule_k(spark, sf):
        """Yule's characteristic K per source (operators/text.py
        yule_k — the length-robust vocabulary-repetitiveness constant
        behind template-spam screening).  One explode + one
        (source, term) aggregation + one per-source rollup."""
        from plda_spark.operators import text

        return text.yule_k(load_table(spark, sf, "documents"))

    q["text_yule_k"] = text_yule_k

    def curation_theil(spark, sf):
        """Theil T inequality of per-document token volume DECOMPOSED
        between/within sources (operators/curation.py
        theil_decomposition — Theil 1967, the additively-decomposable
        inequality Gini isn't): is token-volume skew driven by source
        imbalance or inside the sources?  ONE group-keyed aggregation;
        every term a scalar identity."""
        from plda_spark.operators import curation, text

        stats_df = text.token_stats(
            load_table(spark, sf, "documents")
        ).select("doc_id", "n_tokens")
        docs = load_table(spark, sf, "documents").select(
            "doc_id", "source"
        )
        joined = docs.join(stats_df, "doc_id")
        return curation.theil_decomposition(joined, "source", "n_tokens")

    q["curation_theil"] = curation_theil

    def graph_degree_gini(spark, sf):
        """Degree-distribution Gini (stats_gini machinery over edge
        STUBS — each endpoint appearance is one row, so per-node
        counts ARE degrees): the attention-inequality one-liner next
        to graph_powerlaw.  One stub union + the |nodes|-row
        sorted-rank Gini."""
        from plda_spark.operators import stats

        orders = load_table(spark, sf, "orders")
        e = orders.select(
            F.least(F.col("o_custkey") % 100, F.col("o_orderkey") % 100)
            .alias("a"),
            F.greatest(
                F.col("o_custkey") % 100, F.col("o_orderkey") % 100
            ).alias("b"),
        ).where(F.col("a") != F.col("b")).distinct()
        stubs = e.select(F.col("a").alias("node")).unionAll(
            e.select(F.col("b").alias("node"))
        )
        return stats.gini_concentration(stubs, ["node"])

    q["graph_degree_gini"] = graph_degree_gini

    def stats_holm(spark, sf):
        """Holm step-down FWER correction (operators/stats.py
        holm_bonferroni — Holm 1979) over the SAME one-vs-rest drift
        screen as stats_bh_fdr: the confirmatory-guardrail counterpart
        of the BH screening pass (controls P(any false rejection), not
        the discovery fraction).  |tests| rows end to end."""
        from plda_spark.operators import stats

        tests = stats.group_mean_shift_tests(
            load_table(spark, sf, "events"), "event_type", "value"
        )
        return stats.holm_bonferroni(tests, "group", "p_value", alpha=0.05)

    q["stats_holm"] = stats_holm

    def stats_bayes_ab(spark, sf):
        """Bayesian A/B readout (operators/stats.py bayes_ab_beta —
        Stucchio 2015 Beta-Binomial): the SAME per-user experiment as
        events_abtest (md5 variants, converted = purchase > 100) under
        uniform Beta(1,1) priors, reporting P(B beats A) — the
        stakeholder-facing posterior probability next to the
        frequentist z verdict.  One per-user aggregation + ONE
        conditional aggregation + scalar posterior algebra."""
        from plda_spark.operators import stats
        from plda_spark.operators.sampling import hash_bucket

        per_user = (
            load_table(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.max(
                    (
                        (F.col("event_type") == "purchase")
                        & (F.col("value") > 100)
                    ).cast("int")
                ).alias("converted")
            )
        )
        assigned = per_user.select(
            F.when(hash_bucket(F.col("user_id"), 2) == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "converted",
        )
        return stats.bayes_ab_beta(assigned, "variant", "converted", "A", "B")

    q["stats_bayes_ab"] = stats_bayes_ab

    def stats_page_hinkley(spark, sf):
        """Page-Hinkley upward-drift monitor (operators/stats.py
        page_hinkley — Page 1954 / Gama 2004) over the daily mean
        event value with a PLANTED deterministic level shift
        (value*1.5 on days-of-month >= 20) so the alarm fires at
        every SF.  |days| rows after one aggregation."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            "ts",
            F.when(
                F.dayofmonth("ts") >= 20, F.col("value") * 1.5
            )
            .otherwise(F.col("value"))
            .alias("value"),
        )
        return stats.page_hinkley(
            ev, "ts", "value", delta=0.0, lam=5.0
        ).select(
            "n_days",
            "ph_max",
            F.col("ph_max_day").cast("string").alias("ph_max_day"),
            F.col("alarm_day").cast("string").alias("alarm_day"),
            "drifted",
        )

    q["stats_page_hinkley"] = stats_page_hinkley

    def stats_posthoc(spark, sf):
        """Holm-corrected pairwise Welch post-hoc (operators/stats.py
        anova_posthoc — Welch 1947 + Holm 1979) over the groups the
        stats_anova_f omnibus compares (event value by event_type):
        the WHICH-pairs-differ answer after the F says "they differ".
        ONE per-group moment aggregation, C(k,2) tiny pair join, Holm
        windows over |pairs| rows."""
        from plda_spark.operators import stats

        return stats.anova_posthoc(
            load_table(spark, sf, "events"), "event_type", "value",
            alpha=0.05,
        )

    q["stats_posthoc"] = stats_posthoc

    def events_bass(spark, sf):
        """Bass diffusion-model fit (operators/events.py
        bass_diffusion_fit — Bass 1969): daily new adopters (first
        event per user) regressed on cumulative adopters and its
        square (the discrete Bass regression), inverted to the
        (m, p, q) innovation/imitation parameters and the
        peak-adoption day.  Two aggregations + one |days| window +
        ONE 9-sum closed-form fit."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.bass_diffusion_fit(load_table(spark, sf, "events"))

    q["events_bass"] = events_bass

    def text_source_jsd(spark, sf):
        """Pairwise Jensen-Shannon divergence between per-source token
        distributions (operators/text.py source_token_jsd — Lin 1991):
        the mixture-design diagnostic before setting pretraining
        source weights.  One (source, token) aggregation, one
        token-keyed self-join of the vocabulary table, closed-form
        disjoint-mass terms."""
        from plda_spark.operators import text as text_ops

        return text_ops.source_token_jsd(
            load_table(spark, sf, "documents"), "source", "text"
        )

    q["text_source_jsd"] = text_source_jsd

    def stats_gtest(spark, sf):
        """Likelihood-ratio G-test of independence (operators/stats.py
        g_test — Woolf 1957) between source and language: the
        log-linear-model counterpart of stats_chi2_independence (same
        contingency aggregation, additively decomposable statistic).
        One (a, b) count aggregation + broadcast margins."""
        from plda_spark.operators import stats

        return stats.g_test(
            load_table(spark, sf, "documents"), "source", "lang"
        )

    q["stats_gtest"] = stats_gtest

    def stats_storey(spark, sf):
        """Storey q-values (operators/stats.py storey_qvalues — Storey
        & Tibshirani 2003) over the SAME one-vs-rest drift screen as
        stats_bh_fdr: pi0 estimated at lambda = 0.5 scales the BH
        step-up, buying back power when much of the family is truly
        non-null.  |tests| rows end to end."""
        from plda_spark.operators import stats

        tests = stats.group_mean_shift_tests(
            load_table(spark, sf, "events"), "event_type", "value"
        )
        return stats.storey_qvalues(tests, "group", "p_value")

    q["stats_storey"] = stats_storey

    def classify_pr_auc(spark, sf):
        """Average precision / PR-AUC (operators/classify.py
        pr_auc_report — Davis & Goadrich 2006) of the SAME sigmoid
        score and purchase label as classify_auc: the
        imbalance-honest twin of the ROC readout (baseline column =
        prevalence, what a random scorer gets).  One per-distinct-
        score aggregation + one descending cumulative window."""
        from plda_spark.operators import classify

        ev = load_table(spark, sf, "events").where(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        scored = ev.select(
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("value") / 100.0)),
                3,
            ).alias("score"),
            (F.col("event_type") == "purchase").cast("int").alias("label"),
        )
        return classify.pr_auc_report(scored, "score", "label")

    q["classify_pr_auc"] = classify_pr_auc

    def classify_report(spark, sf):
        """Per-class precision/recall/F1 + accuracy + macro-F1
        (operators/classify.py classification_report) of the
        stopword-lexicon language_id prediction against the labeled
        document language — the per-class breakdown behind the single
        kappa number of stats_cohens_kappa.  ONE (true, pred) count
        aggregation; everything after runs on the |classes|² table."""
        from plda_spark.operators import classify, text

        docs = load_table(spark, sf, "documents")
        pred = text.language_id(docs).select("doc_id", "pred_lang")
        joined = docs.select("doc_id", "lang").join(pred, "doc_id")
        return classify.classification_report(joined, "lang", "pred_lang")

    q["classify_report"] = classify_report

    def stats_seasonal_strength(spark, sf):
        """Strength-of-trend / strength-of-seasonality scalars
        (operators/stats.py seasonality_strength — Wang-Smyth-Hyndman
        2006) over the SAME daily event-count series as
        stats_seasonal_decompose: the decomposition plot turned into
        two monitorable numbers.  |days|-row windows + ONE moment
        aggregation."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events")
        daily = ev.groupBy(
            F.to_date("ts").cast("string").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("y"))
        return stats.seasonality_strength(daily, ts_col="day", value_col="y")

    q["stats_seasonal_strength"] = stats_seasonal_strength

    def stats_hurst(spark, sf):
        """Hurst exponent by rescaled-range analysis (operators/
        stats.py hurst_exponent — Hurst 1951, Mandelbrot-Wallis 1969)
        of the daily mean event value at block sizes 5/10/15: the
        long-memory diagnostic behind capacity planning.  |days|-row
        block windows + a |scales|-point closed-form fit."""
        from plda_spark.operators import stats

        return stats.hurst_exponent(
            load_table(spark, sf, "events"), "ts", "value",
            block_sizes=(5, 10, 15),
        )

    q["stats_hurst"] = stats_hurst

    def stats_gpd_tail(spark, sf):
        """Generalized-Pareto tail fit by probability-weighted moments
        (operators/stats.py gpd_tail_fit — Hosking & Wallis 1987) of
        event values exceeding the fixed threshold 250: the
        peaks-over-threshold answer to how heavy the value tail is.
        One value-keyed cell aggregation + one ordered |distinct|
        window (max_distinct enforced)."""
        from plda_spark.operators import stats

        return stats.gpd_tail_fit(
            load_table(spark, sf, "events"), "value", threshold=250.0
        )

    q["stats_gpd_tail"] = stats_gpd_tail

    def stats_wilson_ci(spark, sf):
        """Per-event-type conversion share with Wilson score intervals
        (operators/stats.py wilson_ci_by_group — Wilson 1927; the
        Brown-Cai-DasGupta recommendation): success = value > 100.
        ONE group-keyed conditional aggregation; interval algebra on
        |groups| rows."""
        from plda_spark.operators import stats

        ev = load_table(spark, sf, "events").select(
            "event_type", (F.col("value") > 100).cast("int").alias("hit")
        )
        return stats.wilson_ci_by_group(ev, "event_type", "hit")

    q["stats_wilson_ci"] = stats_wilson_ci

    def ml_kmeans_fit(spark, sf):
        """Distributed Lloyd k-means fit (operators/similarity.py
        kmeans_fit — Lloyd 1957): k=4 deterministic lowest-id seeds,
        2 assignment/update rounds over the embeddings table, final
        per-cluster (n, wcss) readout.  Per round: ONE corpus assign
        pass (JVM folds) + ONE posexplode mean aggregation reduced to
        k*dim partials; centroids round-trip the driver rounded to 6
        so both engines replay identical literals."""
        from plda_spark.operators import similarity

        return similarity.kmeans_fit_exact(
            load_table(spark, sf, "embeddings"), k=4, rounds=2
        )

    q["ml_kmeans_fit"] = ml_kmeans_fit

    def stream_bayes(spark, sf):
        """Streaming Bayesian A/B verdict end to end
        (streaming/windows.py incremental_ab_ledger +
        bayes_from_ledger): the same two-wave ledger build as
        stream_abtest, read out as the Beta-Binomial posterior
        P(B beats A) — the peeking-safe number a live dashboard shows
        between micro-batches.  Hash-gated against the IDENTICAL
        oracle as the batch stats_bayes_ab, which is the parity
        claim."""
        state = _ab_ledger(spark, sf, "plda_bayes_")
        return windows.bayes_from_ledger(spark, state)

    q["stream_bayes"] = stream_bayes

    def stream_page_hinkley(spark, sf):
        """Streaming Page-Hinkley drift monitor end to end
        (streaming/windows.py incremental_daily_moments +
        page_hinkley_from_ledger): the same planted level shift as
        the batch stats_page_hinkley, ingested as two micro-batch
        waves into the additive daily-moments ledger, read out
        through the IDENTICAL shared window arithmetic
        (stats.page_hinkley_over_daily).  Hash-gated against the same
        oracle as the batch twin — the parity claim the KS/PSI ledger
        twins established."""
        import tempfile

        from plda_spark.streaming import windows

        ev = load_table(spark, sf, "events").select(
            "event_id",
            "ts",
            F.when(F.dayofmonth("ts") >= 20, F.col("value") * 1.5)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        d = tempfile.mkdtemp(prefix="plda_ph_")
        src, state, ckpt = f"{d}/in", f"{d}/state", f"{d}/ckpt"
        ev.where(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        windows.incremental_daily_moments(
            spark.readStream.schema(schema).parquet(src), state, ckpt
        )
        ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
        windows.incremental_daily_moments(
            spark.readStream.schema(schema).parquet(src), state, ckpt
        )
        return windows.page_hinkley_from_ledger(
            spark, state, delta=0.0, lam=5.0
        ).select(
            "n_days",
            "ph_max",
            F.col("ph_max_day").cast("string").alias("ph_max_day"),
            F.col("alarm_day").cast("string").alias("alarm_day"),
            "drifted",
        )

    q["stream_page_hinkley"] = stream_page_hinkley

    def stats_dominant_period(spark, sf):
        """ACF-argmax periodicity detection (operators/stats.py
        dominant_period): the lag in 1..10 with the highest daily-mean
        autocorrelation, gated on the Bartlett 1.96/sqrt(n) bound —
        which period to hand seasonal_decompose.  Rides the |days|
        rollup; the argmax is one pick over <= 10 rows."""
        from plda_spark.operators import stats

        return stats.dominant_period(
            load_table(spark, sf, "events"), "ts", "value", max_lag=10
        )

    q["stats_dominant_period"] = stats_dominant_period

    def events_burstiness(spark, sf):
        """Goh-Barabási inter-event burstiness + memory coefficient
        (operators/events.py interevent_burstiness — Goh & Barabási
        2008): the two-number human-vs-scheduler temporal signature of
        the event stream.  ONE user-keyed exchange feeds both lag
        windows; one moment aggregation ends the plan."""
        from plda_spark.operators import events as ev_ops

        return ev_ops.interevent_burstiness(load_table(spark, sf, "events"))

    q["events_burstiness"] = events_burstiness

    def graph_centralization(spark, sf):
        """Freeman degree centralization (operators/graph.py
        degree_centralization — Freeman 1978) of the same synthetic
        link graph as graph_degree_gini: 0 = regular, 1 = perfect
        star.  One distinct-edge canonicalization + one stub count +
        a |nodes|-row rollup."""
        from plda_spark.operators import graph

        e = _link_graph(spark, sf, 100)
        return graph.degree_centralization(e)

    q["graph_centralization"] = graph_centralization

    def stats_mood_median(spark, sf):
        """Mood's median test across all event types' values
        (operators/stats.py mood_median_test — Brown & Mood 1951):
        grand LOWER weighted median, k x 2 above/at-or-below table,
        Pearson chi2 with Wilson-Hilferty tail — the outlier-robust
        sibling of stats_kruskal_wallis.  One (group, value) cell
        aggregation; median scan + fold over the bounded cells."""
        from plda_spark.operators import stats

        return stats.mood_median_test(
            load_table(spark, sf, "events"), "event_type", "value"
        )

    q["stats_mood_median"] = stats_mood_median

    def stats_cvm(spark, sf):
        """Two-sample Cramér-von Mises criterion (operators/stats.py
        cvm_two_sample — Anderson 1962) between click and purchase
        value distributions: the integrated-squared-ECDF-gap drift
        test next to the max-gap KS, with the asymptotic 0.461
        critical verdict.  Same guarded distinct-value cell contract
        as the KS family."""
        from plda_spark.operators import stats

        return stats.cvm_two_sample(
            load_table(spark, sf, "events"),
            "event_type", "value", "click", "purchase",
        )

    q["stats_cvm"] = stats_cvm

    def stats_ad(spark, sf):
        """Two-sample Anderson-Darling test (operators/stats.py
        ad_two_sample — Pettitt 1976; Scholz & Stephens 1987 k = 2)
        between click and purchase value distributions: the
        TAIL-WEIGHTED member completing the drift triple next to
        stats_ks (largest gap) and stats_cvm (integrated gap) — the
        1/(H(1−H)) pooled-ECDF weight catches tail-only shifts both
        dilute.  Asymptotic 2.492 critical verdict; same guarded
        distinct-value cell contract as the KS family."""
        from plda_spark.operators import stats

        return stats.ad_two_sample(
            load_table(spark, sf, "events"),
            "event_type", "value", "click", "purchase",
        )

    q["stats_ad"] = stats_ad

    def tok_byte_bpe(spark, sf):
        """Byte-level BPE encode (operators/byte_bpe.py — GPT-2
        lineage, Radford et al. 2019) of the documents with the fixed
        _BBPE_MERGES table: pretokens keep case and leading spaces,
        the base alphabet is UTF-8 bytes through the GPT-2 remap, and
        the merges replay in learned order as per-row JVM folds.
        Input projected to printable ASCII so the DuckDB replay
        oracle's byte == char simplification is exact; the trainer's
        sequential-parity gate (incl. multi-byte UTF-8) is pytest.
        ONE corpus scan, no shuffle, no Python in the row path."""
        from plda_spark.operators import byte_bpe

        docs = load_table(spark, sf, "documents").select(
            "doc_id",
            F.regexp_replace("text", "[^ -~]", "").alias("text"),
        )
        enc = byte_bpe.byte_bpe_encode(docs, _BBPE_MERGES)
        return enc.select(
            "doc_id",
            "n_tokens",
            F.md5(F.concat_ws(" ", "tokens")).alias("tokens_md5"),
        )

    q["tok_byte_bpe"] = tok_byte_bpe

    def stats_qdigest(spark, sf):
        """Mergeable q-digest rank-sketch rollup + range-quantile
        probe (operators/stats.py qdigest_daily_sketches /
        qdigest_quantile_range — Shrivastava et al. 2004): per-day
        digests over events.value, merged by count addition over a
        date range, four quantiles read off the postorder walk with
        the proven depth·N/k rank bound.  Deterministic (no
        compaction coins), so the oracle replays the full sketch with
        the compression levels unrolled.  ONE corpus aggregation;
        compression + probes touch only the rollup."""
        from plda_spark.operators import stats

        sk = stats.qdigest_daily_sketches(
            load_table(spark, sf, "events"), "value",
            lo=0.0, hi=200.0, depth=10, k=32,
        )
        return stats.qdigest_quantile_range(
            sk, [0.1, 0.5, 0.9, 0.99], lo=0.0, hi=200.0, depth=10,
            start_day="2024-01-05", end_day="2024-01-25",
        )

    q["stats_qdigest"] = stats_qdigest

    def stream_qdigest(spark, sf):
        """Streaming rank-sketch ledger end to end
        (streaming/windows.py incremental_qdigest_ledger +
        qdigest_quantiles_from_ledger): the stream_hist_drift
        two-parity-micro-batch rig, each batch appending ONE
        deterministic q-digest row under the exactly-once
        partition-overwrite contract; the two-batch quantile fold is
        hash-gated against the oracle's direct unrolled replay over
        the identical parity split."""
        state = _two_wave_ledger(
            spark,
            load_table(spark, sf, "events").select("event_id", "value"),
            "plda_qdigest_",
            lambda stream, state, ckpt: windows.incremental_qdigest_ledger(
                stream, state, ckpt, "value", lo=0.0, hi=200.0, depth=10, k=32
            ),
        )
        return windows.qdigest_quantiles_from_ledger(
            spark, state, (0, 1), [0.1, 0.5, 0.9, 0.99],
            lo=0.0, hi=200.0, depth=10,
        )

    q["stream_qdigest"] = stream_qdigest

    def stats_gev_maxima(spark, sf):
        """GEV fit to daily block maxima by probability-weighted
        moments (operators/stats.py gev_block_maxima_fit — Hosking,
        Wallis & Wood 1985; Γ via the shared A&S polynomial): shape/
        scale/location + the 1-in-20-day return level — the
        block-maxima sibling of stats_gpd_tail.  Corpus collapses to
        |days| maxima; one order window + one moment aggregation."""
        from plda_spark.operators import stats

        return stats.gev_block_maxima_fit(
            load_table(spark, sf, "events"), "ts", "value",
            return_period=20,
        )

    q["stats_gev_maxima"] = stats_gev_maxima

    def text_heaps(spark, sf):
        """Heaps'-law vocabulary-growth fit (operators/text.py
        heaps_fit — Heaps 1978): V(n) = K n^beta measured at 20 md5-
        bucketed corpus prefixes via each token's min-bucket (no
        per-prefix rescans), closed-form log-log OLS.  The growth
        twin of text_zipf's static spectrum."""
        from plda_spark.operators import text

        return text.heaps_fit(load_table(spark, sf, "documents"))

    q["text_heaps"] = text_heaps

    def classify_mcc(spark, sf):
        """Multiclass Matthews correlation R_K (operators/classify.py
        matthews_corrcoef — Gorodkin 2004) of the SAME language_id
        prediction classify_report breaks down per class: the one
        imbalance-honest scalar summary.  ONE confusion aggregation +
        |classes| margin algebra."""
        from plda_spark.operators import classify, text

        docs = load_table(spark, sf, "documents")
        pred = text.language_id(docs).select("doc_id", "pred_lang")
        joined = docs.select("doc_id", "lang").join(pred, "doc_id")
        return classify.matthews_corrcoef(joined, "lang", "pred_lang")

    q["classify_mcc"] = classify_mcc

    def text_script_mix(spark, sf):
        """Per-source Unicode-script composition (operators/text.py
        script_mix): six codepoint-range regexp_count projections in
        the scan, ONE source-keyed aggregation — shares, dominant
        script, mixed-script doc share (the mojibake/contamination
        flag lang-id voting cannot give)."""
        from plda_spark.operators import text

        return text.script_mix(load_table(spark, sf, "documents"))

    q["text_script_mix"] = text_script_mix

    def stats_friedman(spark, sf):
        """Friedman rank test over daily blocks (operators/stats.py
        friedman_daily — Friedman 1937): per-(day, event_type) means
        ranked WITHIN their day, tie-corrected Q, chi2(k-1) via the
        shared Wilson-Hilferty tail — the within-block screen that
        removes day-level drift stats_kruskal_wallis would absorb.
        Per-day partitioned rank windows over the |days|*k cell
        frame; never a global sort."""
        from plda_spark.operators import stats

        return stats.friedman_daily(
            load_table(spark, sf, "events"), "ts", "event_type", "value"
        )

    q["stats_friedman"] = stats_friedman

    def stats_kpss(spark, sf):
        """KPSS level-stationarity test (operators/stats.py
        kpss_level_daily — Kwiatkowski-Phillips-Schmidt-Shin 1992)
        over the daily mean event value: Bartlett long-run variance
        at the published bandwidth rule, eta vs the 0.463 critical
        value — the null-reversed companion of stats_trend.  |days|
        rollup + static lag windows, one moment aggregation."""
        from plda_spark.operators import stats

        return stats.kpss_level_daily(
            load_table(spark, sf, "events"), "ts", "value"
        )

    q["stats_kpss"] = stats_kpss

    def source_fixed_width_roundtrip(spark, sf):
        """Fixed-width (mainframe/copybook) text source round-trip
        (sources/fixed_width.py): render an orders projection as
        fixed character fields (JVM rpad concat, overlong-value guard),
        read it back with the splittable substring/trim/cast reader,
        and recover every value and type — the enterprise interchange
        format a migration pipeline still has to ingest at scale."""
        import tempfile

        from plda_spark.sources import fixed_width as fw

        orders = load_table(spark, sf, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
            F.to_date("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        spec = [
            ("o_orderkey", 12, "long"),
            ("o_custkey", 12, "long"),
            ("o_orderstatus", 1, "string"),
            ("o_totalprice", 12, "decimal(12,2)"),
            ("o_orderdate", 10, "string"),
            ("o_orderpriority", 15, "string"),
        ]
        tmp = tempfile.mkdtemp(prefix="plda_fw_")
        fw.write_fixed_width(orders, f"{tmp}/orders", spec)
        back = fw.read_fixed_width(spark, f"{tmp}/orders", spec)
        # decimal -> double ONLY for the comparator (pandas renders
        # Decimal('469912.40') vs DuckDB's 469912.4 differently even
        # though the values are equal); the text round-trip itself is
        # exact at decimal(12,2)
        return back.withColumn(
            "o_totalprice", F.col("o_totalprice").cast("double")
        )

    q["source_fixed_width_roundtrip"] = source_fixed_width_roundtrip

    def stats_partial_corr(spark, sf):
        """First-order partial correlation (operators/stats.py
        partial_correlation — Yule 1907 / Fisher 1924): quantity vs
        extended price CONTROLLING for discount, with the Fisher-z
        significance through the shared Phi polynomial — the
        confounder check the raw correlation matrix cannot give.
        ONE ten-sum moment aggregation; scalar algebra after."""
        from plda_spark.operators import stats

        return stats.partial_correlation(
            load_table(spark, sf, "lineitem"),
            "l_quantity", "l_extendedprice", "l_discount",
        )

    q["stats_partial_corr"] = stats_partial_corr

    return q


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _all_oracle_sql() -> dict[str, str]:
    """DuckDB oracle for every SQL-expressible query (contract + extras)."""
    o: dict[str, str] = {}

    # The writer→reader round-trip must recover exactly the direct
    # tokenization (doc ids are dense 0..N-1 and every doc has ≥1 token,
    # so line order preserves ids).
    o["source_plda_roundtrip"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
)
SELECT doc_id, word, CAST(count(*) AS INTEGER) AS count
FROM tok GROUP BY doc_id, word
"""

    o["lda_vocab"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
)
SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS word_id
FROM (SELECT DISTINCT word FROM tok)
"""

    o["lda_word_totals"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
),
dtc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word)
SELECT word, CAST(sum(c) AS BIGINT) AS total_occurrences,
       CAST(count(*) AS BIGINT) AS doc_freq
FROM dtc GROUP BY word
"""

    o["lda_top_words_by_lang"] = f"""
WITH tok AS (
  SELECT d.lang, t.doc_id, t.word
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents) t
  JOIN documents d ON d.doc_id = t.doc_id
),
df AS (SELECT lang, word, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY lang, word),
r AS (
  SELECT lang, word, CAST(doc_freq AS BIGINT) AS doc_freq,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_freq DESC, word ASC) AS INTEGER) AS rank
  FROM df
)
SELECT lang, rank, word, doc_freq FROM r WHERE rank <= 10
"""

    o["q1_pricing_summary"] = """
WITH g AS (
  SELECT l_returnflag, l_linestatus,
         sum(CAST(l_quantity AS DECIMAL(18,6))) AS sum_qty,
         sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sum_base_price,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS sum_disc_price,
         sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS sum_charge,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sum_qty AS DOUBLE) AS sum_qty,
       CAST(sum_base_price AS DOUBLE) AS sum_base_price,
       CAST(sum_disc_price AS DOUBLE) AS sum_disc_price,
       CAST(sum_charge AS DOUBLE) AS sum_charge,
       CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
       CAST(sum_base_price AS DOUBLE) / count_order AS avg_price,
       CAST(count_order AS BIGINT) AS count_order
FROM g
"""

    o["q3_top_revenue_orders"] = """
WITH g AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
  ORDER BY revenue DESC, o_orderkey ASC
  LIMIT 10
)
SELECT o_orderkey, o_orderdate, o_orderpriority, CAST(revenue AS DOUBLE) AS revenue FROM g
"""

    o["q5_nation_revenue"] = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""

    o["join_salted_skew"] = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""

    o["grouping_sets_revenue"] = """
SELECT r_name, n_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (n_name), ())
"""

    o["join_anti_customers_no_urgent"] = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""

    o["join_left_customer_orders"] = """
SELECT c_custkey, c_mktsegment,
       CAST(count(o_orderkey) AS BIGINT) AS n_big_orders,
       coalesce(CAST(max(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS max_big_price
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o ON o_custkey = c_custkey
GROUP BY c_custkey, c_mktsegment
"""

    o["join_semi_big_spenders"] = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""

    o["window_top_orders_per_customer"] = """
WITH r AS (
  SELECT o_custkey,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank,
         o_orderkey, o_totalprice
  FROM orders
)
SELECT o_custkey, rank, o_orderkey, o_totalprice FROM r WHERE rank <= 3
"""

    o["rollup_region_nation_revenue"] = """
SELECT 'rollup' AS op, r_name AS key1, n_name AS key2,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
UNION ALL
SELECT 'cube' AS op, o_orderstatus AS key1, o_orderpriority AS key2,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

    o["setop_purchasers"] = """
SELECT 'except' AS op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-08'
)
UNION ALL
SELECT 'intersect' AS op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'signup'
)
"""

    o["stream_dedup"] = """
WITH dup AS (
  SELECT * FROM events UNION ALL SELECT * FROM events
),
r AS (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY event_id ORDER BY ts, event_id) AS rn
  FROM dup
)
SELECT event_id, user_id, event_type FROM r WHERE rn = 1
"""

    o["join_full_outer_daily"] = """
WITH p AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
e AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS n_errors
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT coalesce(p.day, e.day) AS day,
       CAST(coalesce(n_purchases, 0) AS BIGINT) AS n_purchases,
       CAST(coalesce(n_errors, 0) AS BIGINT) AS n_errors
FROM p FULL OUTER JOIN e ON p.day = e.day
"""

    o["agg_distinct_exact"] = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
FROM events GROUP BY event_type
"""

    # The sketch column is gated as an error-bound boolean: the oracle
    # asserts TRUE, so Spark's HLL++ estimate drifting past 5% of the
    # exact count hash-fails (the estimate itself is engine-specific).
    o["agg_distinct"] = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_ok
FROM events GROUP BY event_type
"""

    o["distinct_daily_active_users"] = """
SELECT date_trunc('day', ts) AS day, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
"""

    o["orders_monthly_summary"] = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders GROUP BY 1, 2
"""

    o["string_part_stats"] = """
SELECT p_partkey,
       concat_ws('/', p_brand, upper(p_type)) AS brand_type,
       substr(p_name, 1, 8) AS name_prefix,
       CAST(length(p_name) AS INTEGER) AS name_len,
       CAST(p_size % 10 AS INTEGER) AS size_mod
FROM part WHERE p_type LIKE '%OM%'
"""

    o["having_loyal_customers"] = """
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS max_price
FROM orders GROUP BY o_custkey HAVING count(*) >= 15
"""

    o["events_json_props"] = """
SELECT event_type,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_k
FROM events GROUP BY event_type
"""

    o["dedup_exact"] = f"""
WITH {_SQL_DOCS_DUP}
SELECT md5(text) AS digest, CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_doc_id
FROM docs GROUP BY md5(text) HAVING count(*) > 1
"""

    # Mirrors the operator's default hot-shingle guard (max_shingle_df =
    # 1000): shingles with df > cap are dropped BEFORE sizes/intersections.
    o["dedup_jaccard_pairs"] = f"""
WITH {_SQL_DOCS_DUP}, {_SQL_SHINGLES},
shf AS (
  SELECT * FROM sh
  WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b, round(i / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
) WHERE jaccard >= 0.5
"""

    # Asymmetric containment twin of the jaccard oracle: same planted
    # corpus, same df-capped shingle space, but i / |A| in BOTH pair
    # orientations (containment is not symmetric).
    o["dedup_containment_pairs"] = f"""
WITH {_SQL_DOCS_DUP}, {_SQL_SHINGLES},
shf AS (
  SELECT * FROM sh
  WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, containment FROM (
  SELECT doc_a, doc_b, round(i / sa.n_sh, 6) AS containment
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
) WHERE containment >= 0.9
"""

    from plda_spark.operators.dedup import MINHASH_P, minhash_params

    _mh = minhash_params(16)
    _a_arr = "[" + ",".join(str(a) for a, _ in _mh) + "]"
    _b_arr = "[" + ",".join(str(b) for _, b in _mh) + "]"
    _minhash_flat = f"""
flat AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         min(({_a_arr}[i+1] * (h % {MINHASH_P}) + {_b_arr}[i+1]) % {MINHASH_P}) AS min_hash
  FROM (SELECT doc_id, {_SQL_MD5_LONG.format(x='shingle')} AS h FROM sh),
       unnest(range(16)) AS t(i)
  GROUP BY doc_id, i
)
"""

    _minhash_pairs_body = f"""{_SQL_DOCS_DUP}, {_SQL_SHINGLES}, {_minhash_flat},
bands AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list(CAST(min_hash AS VARCHAR) ORDER BY i), ',')) AS bucket
  FROM flat GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, est_jaccard FROM (
    SELECT c.doc_a, c.doc_b,
           round(sum(CASE WHEN fa.min_hash = fb.min_hash THEN 1 ELSE 0 END) / 16.0, 6) AS est_jaccard
    FROM cand c
    JOIN flat fa ON fa.doc_id = c.doc_a
    JOIN flat fb ON fb.doc_id = c.doc_b AND fa.i = fb.i
    GROUP BY 1, 2
  ) WHERE est_jaccard >= 0.5
)"""

    o["dedup_minhash_pairs"] = f"""
WITH {_minhash_pairs_body}
SELECT doc_a, doc_b, est_jaccard FROM pairs
"""

    # Clusters = transitive closure over the minhash pairs (tiny at
    # sf0.01, so plain recursive reachability is the oracle; the Spark
    # operator is the scale path — min-label propagation + pointer
    # jumping, one (node, label) row per vertex, never the closure).
    o["dedup_clusters"] = f"""
WITH RECURSIVE {_minhash_pairs_body},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT node AS doc_id, min(dst) AS component FROM reach GROUP BY node
"""

    def _mh_bands(src: str, tag: str) -> str:
        """Shingle → minhash → band-bucket fragment over CTE ``src``
        (same formulas as _SQL_SHINGLES/_minhash_flat, parametrized so
        two corpora can be banded in one query)."""
        return f"""
sh_{tag} AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' '))) AS shingle
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM {src}) WHERE len(toks) >= 3
),
flat_{tag} AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         min(({_a_arr}[i+1] * (h % {MINHASH_P}) + {_b_arr}[i+1]) % {MINHASH_P}) AS min_hash
  FROM (SELECT doc_id, {_SQL_MD5_LONG.format(x='shingle')} AS h FROM sh_{tag}),
       unnest(range(16)) AS t(i)
  GROUP BY doc_id, i
),
bands_{tag} AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list(CAST(min_hash AS VARCHAR) ORDER BY i), ',')) AS bucket
  FROM flat_{tag} GROUP BY doc_id, i // 4
)"""

    o["dedup_cross"] = f"""
WITH newd AS (
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(t[1:GREATEST((len(t)*4)//5, 1)], ' ') AS text
  FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents) WHERE doc_id % 10 = 5
),
refd AS (SELECT doc_id, text FROM documents),
{_mh_bands('newd', 'new')},
{_mh_bands('refd', 'ref')},
hits AS (
  SELECT DISTINCT n.doc_id FROM bands_new n
  JOIN bands_ref r ON n.band = r.band AND n.bucket = r.bucket
)
SELECT doc_id, md5(text) AS text_digest
FROM newd WHERE doc_id NOT IN (SELECT doc_id FROM hits)
"""

    _simhash_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN w ELSE -w END) AS s{b}" for b in range(60)
    )
    _simhash_pack = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {b})"
        for b in range(60)
    )
    _simhash_cte = f"""
tc AS (
  SELECT doc_id, tok, count(*) AS w, {_SQL_MD5_LONG.format(x='tok')} AS h
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM docs)
  GROUP BY doc_id, tok
),
sums AS (SELECT doc_id, {_simhash_sums} FROM tc GROUP BY doc_id),
sig AS (SELECT doc_id, ({_simhash_pack}) AS simhash FROM sums)
"""

    o["dedup_simhash_pairs"] = f"""
WITH {_SQL_DOCS_DUP}, {_simhash_cte},
bands AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS bucket
  FROM sig, unnest(range(4)) AS t(band)
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
) WHERE hamming <= 3
"""

    _cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    )

    o["sim_brute_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10),
s AS (
  SELECT a.query_id, b.vec_id,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM q a, e b WHERE b.vec_id != a.query_id
),
r AS (
  SELECT query_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, vec_id, sim, rank FROM r WHERE rank <= 5
"""

    o["sim_ivf_topk"] = o["sim_brute_topk"]
    # bands == num_planes at the gate config reaches full recall (verified
    # ≡ brute force), so the exact oracle applies to the LSH plan too.
    o["sim_lsh_topk"] = o["sim_brute_topk"]
    # IVF-PQ at exhaustive probe + corpus-wide shortlist: the exact
    # re-rank recovers brute-force top-k, so the same oracle applies.
    o["sim_ivfpq_topk"] = o["sim_brute_topk"]
    o["sim_ivfpq_index"] = o["sim_brute_topk"]

    o["sim_near_dup_blocked"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos} AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_cos} >= 0.4
"""

    # Semantic dedup = the near-dup pairs above → transitive closure →
    # survivors (everything except non-min cluster members).
    o["dedup_semantic"] = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_cos} >= 0.4
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM p
),
reach(node, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.node, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
),
comp AS (SELECT node, min(dst) AS component FROM reach GROUP BY node)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != component)
"""

    o["text_token_stats"] = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique,
       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / GREATEST(len(toks), 1), 4) AS avg_token_len,
       CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+'))
            AS INTEGER) AS bpe_tokens
FROM t
"""

    # The crawl pipeline's stages are all exact, so its end-to-end
    # oracle IS the plain token-stats oracle over the source table.
    o["pipeline_crawl_to_corpus"] = o["text_token_stats"]

    o["text_normalize_nfc"] = """
SELECT doc_id, nfc_normalize(replace(text, 'a', 'a' || chr(769))) AS text
FROM documents
"""

    # Direct binning of the probed span replays the merged rollup
    # exactly (histogram merge is lossless); same in-bin interpolation.
    o["sample_leakage_safe_split"] = """
WITH dup AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
), s AS (
  SELECT doc_id, text,
         CASE WHEN b < 10 THEN 'test'
              WHEN b < 20 THEN 'val'
              ELSE 'train' END AS split
  FROM (SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 100 AS b FROM dup)
), held AS (SELECT DISTINCT md5(text) AS d FROM s WHERE split <> 'train')
SELECT CASE WHEN split = 'train' AND md5(text) IN (SELECT d FROM held)
            THEN 'train_leaked' ELSE split END AS split,
       count(*) AS n,
       count(DISTINCT text) AS n_texts
FROM s GROUP BY 1
"""

    # Same md5(seed:id[:slot]) arithmetic: bucket, in-bucket rank by the
    # hash, negative at rank (r + 1 + H2 mod (sz-1)) mod sz.
    o["sample_contrastive_negs"] = """
WITH b AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM documents
), r AS (
  SELECT doc_id, h % 16 AS bkt,
         row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) - 1 AS rnk,
         count(*) OVER (PARTITION BY h % 16) AS sz
  FROM b
), probes AS (
  SELECT r.doc_id AS anchor_id, s.slot, r.bkt,
         (rnk + 1 + CAST('0x' || substr(md5('7:' || CAST(r.doc_id AS VARCHAR)
              || ':' || CAST(s.slot AS VARCHAR)), 1, 15) AS BIGINT)
              % (sz - 1)) % sz AS neg_rnk
  FROM r, (SELECT unnest(generate_series(1, 2)) AS slot) s
  WHERE sz > 1
)
SELECT p.anchor_id, CAST(p.slot AS INTEGER) AS slot, r2.doc_id AS neg_id
FROM probes p JOIN r r2 ON p.bkt = r2.bkt AND p.neg_rnk = r2.rnk
"""

    # ORC write/read is lossless for these plain columns.
    o["source_orc_roundtrip"] = """
SELECT doc_id, lang, text FROM documents
"""

    # Same ignore-nulls first/last windows over the identical total
    # order; purchases never count as touches.
    o["events_attribution"] = """
WITH p AS (
  SELECT event_id, value, event_type,
         first_value(CASE WHEN event_type IN ('click', 'view')
                          THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS first_touch,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM events
)
SELECT 'first_touch' AS model, first_touch AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases, round(sum(value), 4) AS revenue
FROM p WHERE event_type = 'purchase' AND first_touch IS NOT NULL
GROUP BY first_touch
UNION ALL
SELECT 'last_touch' AS model, last_touch AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases, round(sum(value), 4) AS revenue
FROM p WHERE event_type = 'purchase' AND last_touch IS NOT NULL
GROUP BY last_touch
"""

    # Same length-difference occurrence counts over the same distinct
    # character list; log2 via ln/ln(2).
    o["text_char_entropy"] = """
WITH d AS (
  SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n,
         list_distinct(string_split(text, '')) AS chars
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       round(-list_sum(list_transform(chars, c ->
         ((n - length(replace(text, c, ''))) / n)
         * ln((n - length(replace(text, c, ''))) / n) / ln(2))), 6)
         AS char_entropy,
       CAST(len(chars) AS INTEGER) AS alphabet_size
FROM d
"""


    # Independent phrase reconstruction: ordinality + running stopword
    # count gives the same stopword-free runs the Spark-side JVM fold
    # produces; scores must then agree to 4 decimals.
    o["text_rake_keywords"] = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), w AS (
  SELECT doc_id, u.tok AS tok, u.pos AS pos,
         u.tok IN ('the', 'and', 'of', 'to', 'in', 'is', 'it', 'that', 'for', 'with') AS is_stop
  FROM (
    SELECT doc_id,
           unnest(list_transform(toks,
                                 (x, i) -> struct_pack(tok := x, pos := i))) AS u
    FROM t
  )
), g AS (
  SELECT doc_id, tok, pos, is_stop,
         count(*) FILTER (WHERE is_stop)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM w
), p AS (
  SELECT doc_id, grp, list(tok ORDER BY pos) AS words
  FROM g WHERE NOT is_stop GROUP BY doc_id, grp
), ph AS (
  SELECT doc_id, array_to_string(words, ' ') AS phrase, words,
         len(words) AS plen
  FROM p
), ws AS (
  SELECT doc_id, word, count(*) AS freq, sum(plen) AS deg
  FROM (SELECT doc_id, plen, unnest(words) AS word FROM ph)
  GROUP BY doc_id, word
), cand AS (
  SELECT DISTINCT doc_id, phrase, words FROM ph
), scored AS (
  SELECT c.doc_id, c.phrase,
         round(sum(CAST(ws.deg AS DOUBLE) / ws.freq), 4) AS score
  FROM (SELECT doc_id, phrase, unnest(words) AS word FROM cand) c
  JOIN ws ON ws.doc_id = c.doc_id AND ws.word = c.word
  GROUP BY c.doc_id, c.phrase
)
SELECT doc_id, phrase, score, CAST(rnk AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, phrase) AS rnk
  FROM scored
) WHERE rnk <= 3
"""

    # Same md5 60-bit hashes, same k-min merge, same theta arithmetic:
    # every intermediate is an exact int64, the final division a single
    # double rounding in both engines.
    o["stats_kmv_probes"] = """
WITH d AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events GROUP BY 1, 2
), sk AS (
  SELECT day, list_sort(list(h))[1:64] AS kmin FROM d GROUP BY day
), ma AS (
  SELECT list_sort(list_distinct(flatten(list(kmin))))[1:64] AS kmin
  FROM sk WHERE day >= '2024-01-01' AND day <= '2024-01-15'
), mb AS (
  SELECT list_sort(list_distinct(flatten(list(kmin))))[1:64] AS kmin
  FROM sk WHERE day >= '2024-01-10' AND day <= '2024-01-30'
), est AS (
  SELECT 'distinct_a' AS probe,
         CASE WHEN len(kmin) < 64 THEN CAST(len(kmin) AS DOUBLE)
              ELSE 63.0 * 1152921504606846976.0 / CAST(kmin[64] AS DOUBLE)
         END AS value
  FROM ma
  UNION ALL
  SELECT 'distinct_b',
         CASE WHEN len(kmin) < 64 THEN CAST(len(kmin) AS DOUBLE)
              ELSE 63.0 * 1152921504606846976.0 / CAST(kmin[64] AS DOUBLE)
         END
  FROM mb
  UNION ALL
  SELECT 'common_ab',
         CASE WHEN len(a.kmin) < 64 AND len(b.kmin) < 64
              THEN CAST(len(list_filter(list_intersect(a.kmin, b.kmin),
                   x -> x < least(
                     CASE WHEN len(a.kmin) < 64 THEN 1152921504606846976
                          ELSE a.kmin[64] END,
                     CASE WHEN len(b.kmin) < 64 THEN 1152921504606846976
                          ELSE b.kmin[64] END))) AS DOUBLE)
              ELSE CAST(len(list_filter(list_intersect(a.kmin, b.kmin),
                   x -> x < least(
                     CASE WHEN len(a.kmin) < 64 THEN 1152921504606846976
                          ELSE a.kmin[64] END,
                     CASE WHEN len(b.kmin) < 64 THEN 1152921504606846976
                          ELSE b.kmin[64] END))) AS DOUBLE)
                   * 1152921504606846976.0
                   / CAST(least(
                     CASE WHEN len(a.kmin) < 64 THEN 1152921504606846976
                          ELSE a.kmin[64] END,
                     CASE WHEN len(b.kmin) < 64 THEN 1152921504606846976
                          ELSE b.kmin[64] END) AS DOUBLE)
         END
  FROM ma a, mb b
)
SELECT probe, round(value, 4) AS value FROM est
"""

    # The bloom verdicts replay the identical md5 bit logic: the set of
    # set bits over a day range equals the distinct hash positions of
    # the range's active keys, so membership (and any false positive)
    # is bool_and(probe position IN that set).
    o["stats_bloom_probes"] = """
WITH active AS (
  SELECT DISTINCT user_id FROM events
  WHERE CAST(CAST(ts AS DATE) AS VARCHAR) BETWEEN '2024-01-05' AND '2024-01-12'
), idx AS (SELECT unnest(range(4)) AS i),
bits AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(i || ':' || user_id), 1, 15) AS BIGINT) % 4096 AS pos
  FROM active, idx
), probes(p) AS (
  VALUES (1),(2),(3),(4),(5),(999999991),(999999992),(999999993)
), pp AS (
  SELECT p, CAST('0x' || substr(md5(i || ':' || p), 1, 15) AS BIGINT) % 4096 AS pos
  FROM probes, idx
)
SELECT CAST(p AS BIGINT) AS probe,
       bool_and(pos IN (SELECT pos FROM bits)) AS member
FROM pp GROUP BY p
"""

    # Same daily seasonal baseline, matched by CALENDAR date (+7 days),
    # not row offset — a gap day must not slide later predictions.
    o["events_forecast_backtest"] = """
WITH d AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS BIGINT) AS actual
  FROM events GROUP BY 1
), p AS (
  SELECT d.day, d.actual, prev.actual AS predicted
  FROM d JOIN d prev
    ON CAST(prev.day AS DATE) + INTERVAL 7 DAY = CAST(d.day AS DATE)
)
SELECT day, actual, predicted, abs(actual - predicted) AS abs_err,
       round(avg(abs(actual - predicted))
             OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 4) AS running_mae
FROM p
"""

    # Same user-day baskets, same two-level support pruning, same
    # support/confidence/lift arithmetic.
    o["events_assoc_rules"] = """
WITH b AS (
  SELECT DISTINCT user_id || '/' || CAST(CAST(ts AS DATE) AS VARCHAR)
           AS basket, event_type AS item
  FROM events
), supp AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY item
  HAVING count(*) >= 5
), fb AS (
  SELECT b.basket, b.item FROM b JOIN supp ON supp.item = b.item
), pairs AS (
  SELECT x.item AS item_a, y.item AS item_b, CAST(count(*) AS BIGINT) AS n_both
  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
  GROUP BY 1, 2 HAVING count(*) >= 5
), directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_both FROM pairs
  UNION ALL
  SELECT item_b, item_a, n_both FROM pairs
), nu AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_users FROM b)
SELECT d.antecedent, d.consequent, d.n_both,
       sa.n_item AS n_ant, sc.n_item AS n_cons,
       round(d.n_both / CAST(nu.n_users AS DOUBLE), 6) AS support,
       round(d.n_both / CAST(sa.n_item AS DOUBLE), 6) AS confidence,
       round(d.n_both * nu.n_users / CAST(sa.n_item * sc.n_item AS DOUBLE), 6)
         AS lift
FROM directed d
JOIN supp sa ON sa.item = d.antecedent
JOIN supp sc ON sc.item = d.consequent, nu
"""

    # Independent formulation: the oracle SELF-JOINS purchases to
    # their strictly-preceding touches ((ts, id) lexicographic) and
    # applies the same 40/20/40 credit vector — the window pass and
    # the join must agree on every channel's credited revenue.
    o["events_attribution_position"] = """
WITH t AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE event_type IN ('click', 'view')
), p AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
), path AS (
  SELECT p.event_id AS pe, t.event_type AS ch, p.value,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY t.ts, t.event_id) AS pos,
         count(*) OVER (PARTITION BY p.event_id) AS n
  FROM p JOIN t ON t.user_id = p.user_id
              AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
)
SELECT ch AS channel, CAST(count(*) AS BIGINT) AS n_credits,
       round(sum(CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5
                      WHEN pos = 1 THEN 0.4 WHEN pos = n THEN 0.4
                      ELSE 0.2 / (n - 2) END * value), 4) AS revenue
FROM path GROUP BY ch
"""

    # Same total order (ts, event_id) per user; same lead + normalize.
    o["events_transition_matrix"] = """
WITH p AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events
), c AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM p WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n, round(n / sum(n) OVER (PARTITION BY src), 4) AS p FROM c
"""

    # Same max-abs/127 symmetric quantization arithmetic in DOUBLE.
    o["sim_quantize_int8"] = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id, round(scale, 6) AS scale,
       round(list_max(list_transform(v, x ->
         abs(greatest(-127, least(127, CAST(round(x / scale) AS INTEGER)))
             * scale - x))), 6) AS max_err
FROM s WHERE scale > 0
"""

    o["join_interval_overlap"] = """
WITH l AS (
  SELECT o_orderkey AS lid, o_custkey % 2000 AS ls,
         o_custkey % 2000 + o_orderkey % 25 + 1 AS le
  FROM orders WHERE o_orderkey % 7 = 0
), r AS (
  SELECT o_orderkey AS rid, o_custkey % 2000 + 5 AS rs,
         o_custkey % 2000 + o_orderkey % 40 + 6 AS re
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT lid, rid,
       least(le, re) - greatest(ls, rs) AS overlap
FROM l JOIN r ON ls < re AND rs < le
"""

    o["sample_weighted"] = """
WITH s AS (
  SELECT doc_id, source,
         round(ln((CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) + 1.0) / 1152921504606846976.0)
               / n_chars, 12) AS es_key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY es_key DESC, doc_id ASC) AS sample_rank
  FROM s
)
SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= 50
"""

    o["stats_hist_range"] = """
WITH b AS (
  SELECT CAST(least(floor(value / 5.0), 99) AS INT) AS bin,
         count(*) AS n
  FROM events
  WHERE value >= 0 AND value < 500
    AND CAST(CAST(ts AS DATE) AS VARCHAR) BETWEEN '2024-01-08' AND '2024-01-21'
  GROUP BY 1
), c AS (
  SELECT bin, n,
         sum(n) OVER (ORDER BY bin) AS cum,
         sum(n) OVER () AS total
  FROM b
), q AS (SELECT unnest([0.1, 0.5, 0.9]) AS q)
SELECT q,
       min(round(bin * 5.0 + 5.0 * (q * total - (cum - n)) / n, 6)) AS estimate
FROM q JOIN c
  ON cum >= q * total AND (cum - n) < q * total AND n > 0
GROUP BY q
"""

    _stop_en = "['the','and','of','to','in','is','it','that','for','with']"
    o["text_quality"] = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_chars
  FROM documents
),
s AS (
  SELECT doc_id, n_chars, toks,
         CAST(alpha_chars AS DOUBLE) / GREATEST(n_chars, 1) AS alpha_ratio,
         CAST(punct_chars AS DOUBLE) / GREATEST(n_chars, 1) AS punct_ratio,
         CAST(len(list_filter(toks, x -> list_contains({_stop_en}, x))) AS DOUBLE)
           / GREATEST(len(toks), 1) AS stop_ratio,
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / GREATEST(len(toks), 1)
           AS dup_ratio,
         list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1]))
           AS bg
  FROM t
),
b AS (
  SELECT *, CAST(coalesce(
           len(list_filter(bg, x -> x = list_aggregate(bg, 'mode'))), 0) AS DOUBLE)
           / GREATEST(len(bg), 1) AS top_bigram_ratio
  FROM s
)
SELECT doc_id,
       CAST(n_chars AS INTEGER) AS n_chars_measured,
       round(alpha_ratio, 4) AS alpha_ratio,
       round(punct_ratio, 4) AS punct_ratio,
       round(stop_ratio, 4) AS stopword_ratio,
       round(dup_ratio, 4) AS dup_token_ratio,
       round(top_bigram_ratio, 4) AS top_bigram_ratio,
       round((CASE WHEN len(toks) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END
              + 0.3 * alpha_ratio
              + 0.3 * LEAST(stop_ratio * 5, 1.0))
             * (1.0 - LEAST(GREATEST(dup_ratio * 2 - 1, 0.0), 1.0)), 4)
         AS quality_score
FROM b
"""

    _lex = {
        "en": "['the','and','of','to','in','is','it','that','for','with']",
        "fr": "['le','la','les','de','des','et','est','une','un','dans']",
        "es": "['el','la','los','de','que','es','en','un','una','por']",
        "de": "['der','die','das','und','ist','ein','eine','mit','von','zu']",
        "zh": "['de','shi','le','bu','wo','ni','ta','men','zai','you']",
    }
    _hits = ", ".join(
        f"len(list_filter(toks, x -> list_contains({lex}, x))) AS hits_{lang}"
        for lang, lex in _lex.items()
    )
    _hits_arr = "[" + ", ".join(f"hits_{lang}" for lang in _lex) + "]"
    _langs_arr = "[" + ", ".join(f"'{lang}'" for lang in _lex) + "]"
    o["text_langid"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {_hits} FROM t)
SELECT doc_id,
       CASE WHEN list_max({_hits_arr}) = 0 THEN 'und'
            ELSE {_langs_arr}[list_position({_hits_arr}, list_max({_hits_arr}))] END AS pred_lang,
       CAST(list_max({_hits_arr}) AS INTEGER) AS best_hits
FROM h
"""

    # Gopher rules twin: words = whitespace runs, lines = non-empty
    # newline splits; COALESCE handles empty docs (list_sum of an empty
    # list is NULL in DuckDB where Spark's fold yields 0).
    o["text_gopher_filters"] = """
WITH s AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS w,
         list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS l,
         length(text) - length(replace(text, '#', '')) AS nhash,
         (length(text) - length(replace(text, '...', ''))) / 3.0
           + (length(text) - length(replace(text, '…', ''))) AS nell
  FROM documents
),
m AS (
  SELECT doc_id,
    len(w) AS n_words,
    ROUND(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)::DOUBLE
          / greatest(len(w), 1), 4) AS mean_word_len,
    ROUND(nhash::DOUBLE / greatest(len(w), 1), 4) AS hash_ratio,
    ROUND(nell::DOUBLE / greatest(len(w), 1), 4) AS ellipsis_symbol_ratio,
    ROUND(len(list_filter(l, x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…'))::DOUBLE
          / greatest(len(l), 1), 4) AS ellipsis_line_frac,
    ROUND(len(list_filter(l, x -> ltrim(x) LIKE '-%' OR ltrim(x) LIKE '*%'
                                  OR ltrim(x) LIKE '•%'))::DOUBLE
          / greatest(len(l), 1), 4) AS bullet_line_frac,
    ROUND(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
          / greatest(len(w), 1), 4) AS alpha_word_frac,
    len(list_filter(['the','be','to','of','and','that','have','with'],
        t -> list_contains(list_transform(w, x -> lower(x)), t))) AS n_required_hits
  FROM s
)
SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_symbol_ratio,
       ellipsis_line_frac, bullet_line_frac, alpha_word_frac, n_required_hits,
       CAST(n_words BETWEEN 50 AND 100000 AS INTEGER) AS ok_n_words,
       CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INTEGER) AS ok_word_len,
       CAST(hash_ratio <= 0.1 AS INTEGER) AS ok_hash,
       CAST(ellipsis_symbol_ratio <= 0.1 AS INTEGER) AS ok_ellipsis_symbol,
       CAST(ellipsis_line_frac <= 0.3 AS INTEGER) AS ok_ellipsis,
       CAST(bullet_line_frac < 0.9 AS INTEGER) AS ok_bullets,
       CAST(alpha_word_frac >= 0.8 AS INTEGER) AS ok_alpha,
       CAST(n_required_hits >= 2 AS INTEGER) AS ok_required,
       CAST(n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND hash_ratio <= 0.1
            AND ellipsis_symbol_ratio <= 0.1
            AND ellipsis_line_frac <= 0.3
            AND bullet_line_frac < 0.9
            AND alpha_word_frac >= 0.8
            AND n_required_hits >= 2 AS INTEGER) AS gopher_pass
FROM m
"""

    # Gopher repetition twin: the per-row sorted-array folds equal plain
    # unnest + GROUP BY counting — duplicate mass = all occurrences of
    # any value with count >= 2, top mass = max(count · length),
    # denominators = Σ count · length at the same granularity.
    def _rep_pieces() -> tuple[str, str]:
        ctes, sels = [], []
        for label, expr in (
            ("line", "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> length(x) > 0)"),
            ("para", r"list_filter(list_transform(string_split_regex(text, '\n\s*\n'), x -> trim(x)), x -> length(x) > 0)"),
        ):
            ctes.append(f"""{label}v AS (
  SELECT doc_id, unnest({expr}) AS v FROM documents
),
{label}c AS (SELECT doc_id, v, count(*) AS c FROM {label}v GROUP BY doc_id, v),
{label}a AS (
  SELECT doc_id, sum(c) AS n, sum(c * length(v)) AS chars,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_n,
         sum(CASE WHEN c > 1 THEN c * length(v) ELSE 0 END) AS dup_chars
  FROM {label}c GROUP BY doc_id
)""")
            sels.append(
                f"ROUND(COALESCE({label}a.dup_n, 0)::DOUBLE / GREATEST(COALESCE({label}a.n, 0), 1), 4) AS dup_{label}_frac,\n"
                f"  ROUND(COALESCE({label}a.dup_chars, 0)::DOUBLE / GREATEST(COALESCE({label}a.chars, 0), 1), 4) AS dup_{label}_char_frac"
            )
        for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
            ctes.append(f"""g{n}v AS (
  SELECT doc_id,
         unnest(list_transform(range(1, GREATEST(len(w) - {n - 1}, 0) + 1),
                i -> array_to_string(w[i:i+{n - 1}], ' '))) AS v
  FROM ws
),
g{n}c AS (SELECT doc_id, v, count(*) AS c FROM g{n}v GROUP BY doc_id, v),
g{n}a AS (
  SELECT doc_id, sum(c * length(v)) AS chars,
         max(c * length(v)) AS top_mass,
         sum(CASE WHEN c > 1 THEN c * length(v) ELSE 0 END) AS dup_chars
  FROM g{n}c GROUP BY doc_id
)""")
            if n in (2, 3, 4):
                sels.append(
                    f"ROUND(COALESCE(g{n}a.top_mass, 0)::DOUBLE / GREATEST(COALESCE(g{n}a.chars, 0), 1), 4) AS top_{n}gram_char_frac"
                )
            else:
                sels.append(
                    f"ROUND(COALESCE(g{n}a.dup_chars, 0)::DOUBLE / GREATEST(COALESCE(g{n}a.chars, 0), 1), 4) AS dup_{n}gram_char_frac"
                )
        joins = "\n".join(
            f"LEFT JOIN {t}a ON {t}a.doc_id = documents.doc_id"
            for t in ["line", "para"] + [f"g{n}" for n in (2, 3, 4, 5, 6, 7, 8, 9, 10)]
        )
        return (
            "WITH ws AS (\n"
            r"  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS w"
            "\n  FROM documents\n),\n" + ",\n".join(ctes),
            "SELECT documents.doc_id,\n  " + ",\n  ".join(sels)
            + f"\nFROM documents\n{joins}",
        )

    _rep_cte, _rep_sel = _rep_pieces()
    o["text_gopher_repetition"] = f"{_rep_cte}\n{_rep_sel}"

    # C4 cleaning twin: kept = lines ending in terminal punctuation with
    # >= 3 words and no "javascript"; the cleaned text is md5'd so long
    # strings never ride the compare (COALESCE: empty kept lists join to
    # NULL in DuckDB where Spark yields '').
    o["text_c4_clean"] = """
WITH k AS (
  SELECT doc_id, text,
    list_filter(string_split(text, chr(10)),
      x -> regexp_matches(rtrim(x), '[.!?"]$')
           AND len(list_filter(string_split_regex(x, '\\s+'), t -> length(t) > 0)) >= 3
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM documents
)
SELECT doc_id,
  len(list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0)) AS n_lines,
  len(kept) AS n_kept_lines,
  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS text_digest,
  CAST(NOT contains(lower(text), 'lorem ipsum')
       AND NOT contains(lower(text), '{')
       AND len(kept) >= 1 AS INTEGER) AS c4_keep
FROM k
"""

    # Winnowing twin (k=4, w=5): one md5 per token mod 2^31-1, k-gram
    # hash by Horner (acc*131 + h) mod 2^31-1; DuckDB slices are
    # inclusive, so a w-window of grams is grams[j:j+4].
    o["text_fingerprint"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
th AS (
  SELECT doc_id, toks,
         list_transform(toks,
           x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
         ) AS h
  FROM t
),
g AS (
  SELECT doc_id, toks,
         list_transform(range(1, GREATEST(len(h) - 3, 0) + 1),
           i -> ((((h[i] * 131 + h[i+1]) % 2147483647) * 131 + h[i+2]) % 2147483647
                 * 131 + h[i+3]) % 2147483647
         ) AS grams
  FROM th
),
s AS (
  SELECT doc_id, toks, len(grams) AS n_kgrams,
         list_distinct(list_transform(range(1, GREATEST(len(grams) - 4, 0) + 1),
           j -> list_min(grams[j:j+4]))) AS sel
  FROM g
)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
       CAST(n_kgrams AS INTEGER) AS n_kgrams,
       CAST(len(sel) AS INTEGER) AS n_winnow,
       CAST(coalesce(list_min(sel), 0) AS BIGINT) AS winnow_min,
       CAST(coalesce(list_sum(list_transform(sel, x -> x % 1000003)), 0) AS BIGINT)
         AS winnow_checksum
FROM s
"""

    o["text_tfidf"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
),
tc AS (SELECT doc_id, word, count(*) AS tc FROM tok GROUP BY doc_id, word),
dl AS (SELECT doc_id, sum(tc) AS doc_len FROM tc GROUP BY doc_id),
dfc AS (SELECT word, count(*) AS df FROM tc GROUP BY word),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT tc.doc_id, tc.word,
       round((tc / CAST(doc_len AS DOUBLE)) * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1), 6) AS tfidf
FROM tc JOIN dl ON tc.doc_id = dl.doc_id JOIN dfc ON tc.word = dfc.word, n
"""

    o["text_collocations"] = f"""
WITH base AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
),
bg AS (
  SELECT bgs['a'] AS a, bgs['b'] AS b, count(*) AS c_ab FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(a := toks[i], b := toks[i+1]))) AS bgs
    FROM base WHERE len(toks) >= 2
  ) GROUP BY 1, 2 HAVING count(*) >= 5
),
tot AS (SELECT sum(GREATEST(len(toks) - 1, 0)) AS t_total FROM base)
SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
       round(ln(c_ab * CAST(t_total AS DOUBLE) / (CAST(ua.c AS DOUBLE) * ub.c)), 6) AS pmi
FROM bg, tot
JOIN uni ua ON ua.w = a
JOIN uni ub ON ub.w = b
"""

    _bucket = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    o["sample_hash_buckets"] = f"""
SELECT 'sample' AS op, CAST(doc_id AS VARCHAR) AS key, CAST(n_chars AS BIGINT) AS n
FROM documents WHERE {_bucket} < 20
UNION ALL
SELECT 'split' AS op, split AS key, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT CASE WHEN {_bucket} < 10 THEN 'test'
              WHEN {_bucket} < 20 THEN 'val'
              ELSE 'train' END AS split
  FROM documents
) GROUP BY split
"""

    # Chunking twin (max_tokens=64, overlap=16 → stride 48): chunk c
    # covers toks[(c-1)*48+1 : (c-1)*48+64] (DuckDB slices inclusive).
    o["sample_chunk_documents"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(c AS INTEGER) AS chunk_idx,
       CAST(len(toks[c*48+1 : c*48+64]) AS INTEGER) AS chunk_tokens,
       md5(array_to_string(toks[c*48+1 : c*48+64], ' ')) AS chunk_digest
FROM t, unnest(range(
  CASE WHEN len(toks) = 0 THEN 0
       ELSE 1 + CAST(ceil(GREATEST(len(toks) - 64, 0) / 48.0) AS BIGINT) END
)) AS u(c)
"""

    # Shard-aware twin of operators.sampling.pack_sequences (shards=64):
    # running sum per md5-bucket shard; bin_id = local_bin * 64 + shard.
    _shard64 = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64"
    o["sample_pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS INTEGER) AS n_tokens,
         {_shard64} AS shard
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING)
                   - n_tokens) / 2048.0) * 64 + shard AS BIGINT) AS bin_id
FROM t
"""

    o["stream_window_aggs"] = """
WITH f AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS floor30, event_type, value
  FROM events
),
x AS (
  SELECT unnest([floor30, floor30 - INTERVAL 30 MINUTE]) AS window_start,
         event_type, value
  FROM f
)
SELECT 'tumbling' AS op, date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS DOUBLE) AS value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'sliding' AS op, window_start, event_type,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
FROM x GROUP BY 2, 3
"""

    o["stream_interval_join"] = """
SELECT p.user_id AS user_id, p.event_id AS purchase_id, e.event_id AS error_id
FROM events p
JOIN events e
  ON p.event_type = 'purchase' AND e.event_type = 'error'
 AND p.user_id = e.user_id
 AND e.ts >= p.ts - INTERVAL 30 MINUTE
 AND e.ts < p.ts
"""

    # Water-filling twin: identical (r asc, source asc) prefix windows,
    # identical saturation rule and level arithmetic.
    o["curation_token_budget"] = f"""
WITH c AS (
  SELECT source, CAST(sum(len({_SQL_TOKS})) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY source
), s AS (
  SELECT source, n_tokens, 1.0 AS w, n_tokens / 1.0 AS r FROM c
), t AS (
  SELECT *, sum(w) OVER () AS w_all,
         sum(n_tokens) OVER (ORDER BY r, source
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS t_prev,
         sum(w) OVER (ORDER BY r, source
                      ROWS UNBOUNDED PRECEDING) - w AS w_prev
  FROM s
), f AS (
  SELECT *, r * (w_all - w_prev) <= (26000 - t_prev) AS saturated FROM t
), lvl AS (
  SELECT (26000 - coalesce(sum(CASE WHEN saturated THEN n_tokens END), 0))
         / coalesce(sum(CASE WHEN NOT saturated THEN w END), 0) AS theta
  FROM f
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(w / w_all, 6) AS weight, saturated,
       round(CASE WHEN saturated THEN 1.0
                  ELSE theta * w / n_tokens END, 6) AS rate,
       round(CASE WHEN saturated THEN n_tokens ELSE theta * w END, 2)
         AS planned_tokens
FROM f, lvl
"""

    # Same sorted-rank Gini arithmetic, same (cnt, name) tie-break.
    o["stats_gini_concentration"] = """
WITH g AS (
  SELECT 'source' AS dimension, source AS grp, count(*) AS cnt
  FROM documents GROUP BY source
  UNION ALL
  SELECT 'lang', lang, count(*) FROM documents GROUP BY lang
), r AS (
  SELECT dimension, cnt,
         row_number() OVER (PARTITION BY dimension
                            ORDER BY cnt ASC, grp ASC) AS r
  FROM g
)
SELECT dimension, CAST(count(*) AS BIGINT) AS n_groups,
       round(2.0 * sum(r * cnt) / (count(*) * sum(cnt))
             - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) AS gini
FROM r GROUP BY dimension
"""

    # Bootstrap twin: the identical md5(event_id:b) draws, Poisson
    # thresholds embedded as the SAME float literals the executors use,
    # and quantile_cont = Spark's interpolated percentile.
    from plda_spark.operators.stats import poisson1_thresholds as _p1t

    _cs = _p1t()
    _boot_parts = []
    _boot_means = []
    for _b in range(32):
        _u = (
            f"(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':{_b}'),"
            f" 1, 15)) AS BIGINT) % {1 << 60}) / {float(1 << 60)!r}"
        )
        _w = f"CAST({len(_cs)} AS DOUBLE)"
        for _k in range(len(_cs) - 1, -1, -1):
            _w = f"CASE WHEN {_u} < {_cs[_k]!r} THEN {float(_k)!r} ELSE {_w} END"
        _boot_parts.append(
            f"sum(({_w}) * value) AS wx_{_b}, sum({_w}) AS w_{_b}"
        )
        _boot_means.append(f"SELECT wx_{_b} / w_{_b} AS m FROM one")
    o["stats_bootstrap_ci"] = (
        "WITH one AS (\n  SELECT "
        + ",\n         ".join(_boot_parts)
        + "\n  FROM events WHERE event_type = 'purchase'\n), means AS (\n  "
        + "\n  UNION ALL ".join(_boot_means)
        + """
)
SELECT CAST(count(*) AS BIGINT) AS n_replicas,
       round(avg(m), 6) AS boot_mean,
       round(quantile_cont(m, 0.025), 6) AS ci_lo,
       round(quantile_cont(m, 0.975), 6) AS ci_hi
FROM means
"""
    )

    # Same heuristic counters: '.!?' runs (min 1), engine tokens,
    # vowel-group syllables (min 1/word); same published coefficients.
    o["text_readability"] = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents
  FROM documents
), c AS (
  SELECT doc_id, len(toks) AS n_words, n_sents,
         list_sum(list_transform(toks,
           w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
           AS n_syl
  FROM d WHERE len(toks) > 0
)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
       CAST(n_sents AS INTEGER) AS n_sentences,
       CAST(n_syl AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (n_words / CAST(n_sents AS DOUBLE))
             - 84.6 * (n_syl / CAST(n_words AS DOUBLE)), 4) AS flesch_ease,
       round(0.39 * (n_words / CAST(n_sents AS DOUBLE))
             + 11.8 * (n_syl / CAST(n_words AS DOUBLE)) - 15.59, 4) AS fk_grade
FROM c
"""

    # Same per-user triple, same tie-broken ntile windows (1 = best).
    o["events_rfm"] = """
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
u AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)), (SELECT d FROM mx))
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(CASE WHEN event_type = 'purchase' THEN value
                        ELSE 0.0 END), 4) AS monetary
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(recency_days AS INTEGER) AS recency_days,
       frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC)
            AS INTEGER) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
            AS INTEGER) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id ASC)
            AS INTEGER) AS m_score
FROM u
"""

    # Quantize -> 20-candidate shortlist by int8-code cosine (scale
    # cancels) -> exact-cosine re-rank, identical tie-breaks.
    o["sim_sq8_topk"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
), codes AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(greatest(-127, least(127,
           CAST(round(x / scale) AS INTEGER))) AS DOUBLE)) AS q8
  FROM c WHERE scale > 0
), q AS (
  SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 10
), short AS (
  SELECT query_id, vec_id, rnk FROM (
    SELECT q.query_id, codes.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qvec, codes.q8), 6) DESC,
                      codes.vec_id) AS rnk
    FROM codes, q WHERE codes.vec_id <> q.query_id
  ) WHERE rnk <= 20
)
SELECT query_id, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
  SELECT s.query_id, s.vec_id,
         round(list_cosine_similarity(q.qvec, e.v), 6) AS sim,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY round(list_cosine_similarity(q.qvec, e.v), 6) DESC,
                    s.vec_id) AS rnk
  FROM short s
  JOIN e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
) WHERE rnk <= 5
"""

    # Same two stages: prefix-cosine shortlist (rounded order, vec_id
    # tie-break) then exact full-dim re-rank.
    o["sim_matryoshka_topk"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 10
), short AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(
                        q.qvec[1:16], e.v[1:16]), 6) DESC,
                      e.vec_id) AS rnk
    FROM e, q WHERE e.vec_id <> q.query_id
  ) WHERE rnk <= 20
)
SELECT query_id, vec_id, sim, CAST(rnk AS INTEGER) AS rank FROM (
  SELECT s.query_id, s.vec_id,
         round(list_cosine_similarity(q.qvec, e.v), 6) AS sim,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY round(list_cosine_similarity(q.qvec, e.v), 6) DESC,
                    s.vec_id) AS rnk
  FROM short s
  JOIN e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
) WHERE rnk <= 5
"""

    # Same trigram construction (engine token rule), same first-owner
    # min over (order, doc) and per-doc counts.
    o["text_ngram_novelty"] = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), pairs AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> array_to_string(toks[i:i+2], ' '))) AS gram
  FROM t WHERE len(toks) >= 3
), f AS (
  SELECT gram, min(doc_id) AS first_doc FROM pairs GROUP BY gram
)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       round(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM pairs p JOIN f ON f.gram = p.gram
GROUP BY p.doc_id
"""

    # Same 2^(-age/half_life) formula measured from max(ts).
    o["stats_decayed_counts"] = """
WITH m AS (SELECT max(ts) AS ref FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(pow(2.0, -(epoch(m.ref) - epoch(ts)) / 86400.0 / 7.0)), 4)
         AS decayed_count
FROM events, m
GROUP BY event_type
"""

    # Same centered 7-row MA (NULL on partial windows), same phase
    # means over the detrended series, same zero-centering.
    o["stats_seasonal_decompose"] = """
WITH d AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
), t AS (
  SELECT day, y,
         CASE WHEN count(*) OVER w7 = 7 THEN avg(y) OVER w7 END AS trend,
         (row_number() OVER (ORDER BY day) - 1) % 7 AS phase
  FROM d
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), t2 AS (
  SELECT *, y - trend AS detr FROM t
), ph AS (
  SELECT phase, avg(detr) AS s_raw FROM t2 GROUP BY phase
), phc AS (
  SELECT phase, s_raw - (SELECT avg(s_raw) FROM ph) AS s FROM ph
)
SELECT day, y, round(trend, 4) AS trend, round(s, 4) AS seasonal,
       round(y - trend - s, 4) AS residual
FROM t2 JOIN phc USING (phase)
"""

    # Same per-value counts -> cumulative ECDFs -> exact D; same
    # Stephens lambda and 100-term alternating series (left fold, same
    # multiplication order), same small-lambda guard.
    o["stats_ks_test"] = """
WITH pv AS (
  SELECT CAST(value AS DOUBLE) AS v,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY 1
), e AS (
  SELECT sum(ca) OVER (ORDER BY v) / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY v) / sum(cb) OVER () AS fb,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM pv
), d AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         max(abs(fa - fb)) AS d_stat
  FROM e GROUP BY n_a, n_b
), l AS (
  SELECT *, (sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE)) + 0.12
             + 0.11 / sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE))) * d_stat
            AS lam
  FROM d
)
SELECT n_a, n_b, round(d_stat, 6) AS d_stat,
       round(CASE WHEN lam < 0.05 THEN 1.0 ELSE
         least(greatest(2.0 * list_reduce(list_transform(range(1, 101),
           j -> pow(-1.0, j - 1) * exp(-2.0 * j * j * lam * lam)),
           (x, y) -> x + y), 0.0), 1.0) END, 6) AS p_value
FROM l
"""

    # Same fixed 64-bin grid over [0, 200), same range sums, binned
    # ECDFs over occupied bins (constant between steps — same max),
    # same lambda/series arithmetic as stats_ks_test.
    o["stats_hist_ks"] = """
WITH b AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g AS (
  SELECT bin,
         sum(CASE WHEN day BETWEEN '2024-01-01' AND '2024-01-10'
                  THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN day BETWEEN '2024-01-20' AND '2024-01-31'
                  THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), e AS (
  SELECT sum(ca) OVER (ORDER BY bin) / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY bin) / sum(cb) OVER () AS fb,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g
), d AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         max(abs(fa - fb)) AS d_stat
  FROM e GROUP BY n_a, n_b
), l AS (
  SELECT *, (sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE)) + 0.12
             + 0.11 / sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE))) * d_stat
            AS lam
  FROM d
)
SELECT n_a, n_b, round(d_stat, 6) AS d_stat,
       round(CASE WHEN lam < 0.05 THEN 1.0 ELSE
         least(greatest(2.0 * list_reduce(list_transform(range(1, 101),
           j -> pow(-1.0, j - 1) * exp(-2.0 * j * j * lam * lam)),
           (x, y) -> x + y), 0.0), 1.0) END, 6) AS p_value
FROM l
"""

    # PSI-from-rollup twin: occupied bins only — a bin empty on both
    # sides contributes (ms-ms)*ln(1) = 0, so this equals the Spark
    # side's full fixed-grid fold.
    o["stats_hist_psi"] = """
WITH b AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g AS (
  SELECT bin,
         sum(CASE WHEN day BETWEEN '2024-01-01' AND '2024-01-10'
                  THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN day BETWEEN '2024-01-20' AND '2024-01-31'
                  THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), s AS (
  SELECT greatest(ca / CAST(sum(ca) OVER () AS DOUBLE), 0.0001) AS pa,
         greatest(cb / CAST(sum(cb) OVER () AS DOUBLE), 0.0001) AS pb,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
FROM s GROUP BY n_a, n_b
"""

    # Direct binned PSI over the same even/odd parity split the
    # streaming ledger receives as its two micro-batches.
    o["stream_hist_psi"] = """
WITH b AS (
  SELECT event_id % 2 AS grp,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g AS (
  SELECT bin,
         sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), s AS (
  SELECT greatest(ca / CAST(sum(ca) OVER () AS DOUBLE), 0.0001) AS pa,
         greatest(cb / CAST(sum(cb) OVER () AS DOUBLE), 0.0001) AS pb,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
FROM s GROUP BY n_a, n_b
"""

    # Same average ranks, tie-corrected variance, continuity-corrected
    # z, and the identical A&S 26.2.17 polynomial (same nesting order).
    o["stats_mannwhitney"] = """
WITH pv AS (
  SELECT CAST(value AS DOUBLE) AS v,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY 1
), st AS (
  SELECT ca, ca + cb AS t,
         (sum(ca + cb) OVER (ORDER BY v) - (ca + cb))
           + (ca + cb + 1) / 2.0 AS avgrank,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM pv
), ag AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         sum(ca * avgrank) AS r_a,
         sum(CAST(t AS DOUBLE) * t * t - t) AS tie_mass
  FROM st GROUP BY n_a, n_b
), calc AS (
  SELECT n_a, n_b,
         r_a - n_a * (n_a + 1) / 2.0 AS u,
         n_a * n_b / 2.0 AS mu,
         n_a * n_b / 12.0
           * ((n_a + n_b + 1)
              - tie_mass / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
           AS var
  FROM ag
), zc AS (
  SELECT n_a, n_b, u,
         CASE WHEN var <= 0 THEN 0.0
              ELSE greatest(abs(u - mu) - 0.5, 0.0) / sqrt(var) END AS z
  FROM calc
), ph AS (
  SELECT *, 1.0 / (1.0 + 0.2316419 * z) AS tt FROM zc
)
SELECT n_a, n_b, round(u, 4) AS u_stat, round(z, 6) AS z,
       round(least(2.0 * (exp(-z * z / 2.0) / 2.5066282746310002)
         * (tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937
            + tt * (-1.821255978 + tt * 1.330274429))))), 1.0), 6)
         AS p_value
FROM ph
"""

    # Same one-pass moments, same Welch-Satterthwaite dof, same A&S Φ.
    o["stats_welch_ttest"] = """
WITH agg AS (
  SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS s1a,
         sum(CASE WHEN event_type = 'click' THEN value*value ELSE 0 END) AS s2a,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS s1b,
         sum(CASE WHEN event_type = 'purchase' THEN value*value ELSE 0 END) AS s2b
  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), m AS (
  SELECT n_a, n_b, s1a/n_a AS ma, s1b/n_b AS mb,
         greatest((s2a - s1a*(s1a/n_a))/(n_a-1), 0.0) AS va,
         greatest((s2b - s1b*(s1b/n_b))/(n_b-1), 0.0) AS vb
  FROM agg
), c AS (
  SELECT n_a, n_b, ma, mb,
         (ma-mb)/sqrt(va/n_a + vb/n_b) AS t,
         (va/n_a + vb/n_b)*(va/n_a + vb/n_b)
           / ((va/n_a)*(va/n_a)/(n_a-1) + (vb/n_b)*(vb/n_b)/(n_b-1)) AS dof
  FROM m
), z AS (SELECT *, abs(t) AS az, 1.0/(1.0 + 0.2316419*abs(t)) AS tt FROM c)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round(t, 6) AS t_stat, round(dof, 4) AS dof,
       round(least(2.0*(exp(-az*az/2.0)/2.5066282746310002)
         *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
            + tt*(-1.821255978 + tt*1.330274429))))), 1.0), 6) AS p_value
FROM z
"""

    # One-vs-rest moments from a single pass (rest = global - group),
    # rounded p BEFORE the BH step exactly like the composed operators.
    o["stats_bh_fdr"] = """
WITH per AS (
  SELECT event_type AS grp, count(value) AS n,
         sum(value) AS s1, sum(value*value) AS s2
  FROM events GROUP BY 1
), tot AS (SELECT sum(n) AS tn, sum(s1) AS ts1, sum(s2) AS ts2 FROM per),
j AS (
  SELECT grp, n, tn - n AS rn, s1/n AS m, (ts1-s1)/(tn-n) AS rm,
         greatest((s2 - s1*(s1/n))/(n-1), 0.0) AS var,
         greatest(((ts2-s2) - (ts1-s1)*((ts1-s1)/(tn-n)))/(tn-n-1), 0.0)
           AS rvar
  FROM per, tot WHERE tn - n > 0
), zc AS (
  SELECT grp,
         CASE WHEN var/n + rvar/rn > 0
              THEN abs(m - rm)/sqrt(var/n + rvar/rn) ELSE 0.0 END AS z
  FROM j
), ph AS (SELECT grp, z, 1.0/(1.0 + 0.2316419*z) AS tt FROM zc),
pp AS (
  SELECT grp AS test,
         round(least(2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 1.0), 6) AS p
  FROM ph
), ranked AS (
  SELECT test, p, row_number() OVER (ORDER BY p, test) AS rank,
         count(*) OVER () AS m
  FROM pp
), mono AS (
  SELECT *, least(min(p * m / rank) OVER (
           ORDER BY rank DESC ROWS UNBOUNDED PRECEDING), 1.0) AS q
  FROM ranked
)
SELECT test, round(p, 6) AS p_value, rank, m,
       round(q, 6) AS q_value, q <= 0.05 AS reject
FROM mono
"""

    # Same string-form digit extraction, same missing-digit identities.
    o["stats_benford"] = """
WITH d AS (
  SELECT CAST(substr(regexp_replace(CAST(o_totalprice AS VARCHAR),
                                    '[^1-9]', '', 'g'), 1, 1) AS INT)
           AS digit
  FROM orders
  WHERE o_totalprice IS NOT NULL
    AND regexp_replace(CAST(o_totalprice AS VARCHAR), '[^1-9]', '', 'g')
          <> ''
), per AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
s AS (
  SELECT digit, n,
         n / CAST(sum(n) OVER () AS DOUBLE) AS obs,
         log10(1.0 + 1.0/digit) AS exp_p,
         sum(n) OVER () AS tot
  FROM per
)
SELECT digit, n, round(obs, 6) AS obs_p, round(exp_p, 6) AS exp_p,
       round((sum(abs(obs - exp_p)) OVER ()
              + (1.0 - sum(exp_p) OVER ()))/9.0, 6) AS mad,
       round(greatest(tot * (sum(obs*obs/exp_p) OVER () - 1.0), 0.0), 6)
         AS chi2
FROM s
"""

    # Peer-inclusive RANGE cumulative frames (both engines' default).
    o["stats_weighted_quantiles"] = """
WITH s AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
         sum(CAST(l_quantity AS DOUBLE)) OVER (
           PARTITION BY l_returnflag ORDER BY CAST(l_extendedprice AS DOUBLE)
         ) AS cw,
         sum(CAST(l_quantity AS DOUBLE)) OVER (
           PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT g AS "group", round(max(tw), 6) AS total_weight,
       min(CASE WHEN cw >= 0.25*tw THEN v END) AS q0_25,
       min(CASE WHEN cw >= 0.5*tw THEN v END) AS q0_5,
       min(CASE WHEN cw >= 0.75*tw THEN v END) AS q0_75
FROM s GROUP BY g
"""


    # Same top-2000 count-desc/token-asc vocab, same occurrence weights.
    o["text_vocab_coverage"] = f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKS}) AS w FROM documents
),
vocab AS (
  SELECT w FROM toks GROUP BY w
  ORDER BY count(*) DESC, w ASC LIMIT 2000
),
j AS (
  SELECT toks.source, (vocab.w IS NOT NULL) AS hit
  FROM toks LEFT JOIN vocab ON toks.w = vocab.w
)
SELECT source AS "group", CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN hit THEN 0 ELSE 1 END)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate,
       round(1.0 - sum(CASE WHEN hit THEN 0 ELSE 1 END)
             / CAST(count(*) AS DOUBLE), 6) AS coverage
FROM j GROUP BY source
"""

    # KM twin: same censoring rule, same exp-sum-log running product
    # with the cumulative-min zero guard.
    o["events_kaplan_meier"] = """
WITH pu AS (
  SELECT user_id || '/' || event_type AS subject,
         min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l
  FROM events GROUP BY 1
), se AS (SELECT max(CAST(ts AS DATE)) AS e FROM events),
st AS (
  SELECT datediff('day', f, l) AS t,
         CASE WHEN datediff('day', l, e) >= 3 THEN 1 ELSE 0 END AS ev
  FROM pu CROSS JOIN se
), pt AS (
  SELECT t, sum(ev) AS n_events, sum(1 - ev) AS n_censored,
         count(*) AS leaving
  FROM st GROUP BY t
), rk AS (
  SELECT t, n_events, n_censored,
         sum(leaving) OVER ()
           - sum(leaving) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
           + leaving AS n_risk
  FROM pt
), lt AS (
  SELECT *, 1.0 - n_events / CAST(n_risk AS DOUBLE) AS term FROM rk
), cum AS (
  SELECT t, n_risk, n_events, n_censored,
         CASE WHEN min(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                   <= 0 THEN 0.0
              ELSE exp(sum(CASE WHEN term > 0 THEN ln(term) END)
                       OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
         END AS s
  FROM lt
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_censored AS BIGINT) AS n_censored,
       round(s, 6) AS survival
FROM cum WHERE n_events > 0
"""

    o["privacy_l_diversity"] = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT c_mktsegment)
            + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sensitive,
       (count(DISTINCT c_mktsegment)
        + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)) < 5
         AS violates
FROM customer GROUP BY 1
"""

    # HITS twin: the 3 sum-normalized alternating iterations unrolled
    # (every CTE materialized — the 12-deep inlined chain stalls the
    # planner, the same failure mode as the markov oracle).
    _hits = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 100 AS s, o_orderkey % 100 AS d
  FROM orders WHERE o_custkey % 100 != o_orderkey % 100
),
nodes AS MATERIALIZED (
  SELECT s AS node FROM e UNION SELECT d AS node FROM e
),
h0 AS MATERIALIZED (SELECT node, 1.0 AS h FROM nodes)"""
    for _it in range(1, 4):
        _hits += f""",
a{_it}r AS MATERIALIZED (
  SELECT e.d AS node, sum(h{_it - 1}.h) AS raw
  FROM e JOIN h{_it - 1} ON h{_it - 1}.node = e.s GROUP BY e.d
), a{_it} AS MATERIALIZED (
  SELECT n.node, coalesce(r.raw, 0.0) / t.t AS a
  FROM nodes n LEFT JOIN a{_it}r r ON r.node = n.node
  CROSS JOIN (SELECT sum(raw) AS t FROM a{_it}r) t
), h{_it}r AS MATERIALIZED (
  SELECT e.s AS node, sum(a{_it}.a) AS raw
  FROM e JOIN a{_it} ON a{_it}.node = e.d GROUP BY e.s
), h{_it} AS MATERIALIZED (
  SELECT n.node, coalesce(r.raw, 0.0) / t.t AS h
  FROM nodes n LEFT JOIN h{_it}r r ON r.node = n.node
  CROSS JOIN (SELECT sum(raw) AS t FROM h{_it}r) t
)"""
    _hits += """
SELECT h3.node, round(h3.h, 6) AS hub, round(a3.a, 6) AS authority
FROM h3 JOIN a3 USING (node)
"""
    o["graph_hits"] = _hits

    # Same token rule, same spectrum identities, bias-corrected Chao1.
    o["text_vocab_richness"] = f"""
WITH counts AS (
  SELECT lang AS "group", w, count(*) AS c FROM (
    SELECT lang, unnest({_SQL_TOKS}) AS w FROM documents
  ) GROUP BY 1, 2
), agg AS (
  SELECT "group", CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM counts GROUP BY 1
)
SELECT "group", n_tokens, n_types, f1, f2,
       round(n_types / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       round(n_types + CASE WHEN f2 > 0
               THEN CAST(f1 AS DOUBLE)*f1/(2.0*f2)
               ELSE CAST(f1 AS DOUBLE)*(f1 - 1)/(2.0*(f2 + 1)) END, 6)
         AS chao1,
       round(1.0 - f1 / CAST(n_tokens AS DOUBLE), 6) AS gt_coverage
FROM agg
"""

    # Same per-day sums, same delete-one replicates and identities.
    o["stats_jackknife_ratio"] = """
WITH per AS (
  SELECT CAST(ts AS DATE) AS g,
         sum(CASE WHEN event_type = 'purchase' THEN value
                  ELSE 0.0 END) AS n,
         sum(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END) AS d
  FROM events GROUP BY 1
), tot AS (SELECT sum(n) AS tn, sum(d) AS td FROM per),
reps AS (
  SELECT tn, td,
         CASE WHEN td - d <> 0 THEN (tn - n)/(td - d) END AS r
  FROM per CROSS JOIN tot
), agg AS (
  SELECT max(tn) AS tn, max(td) AS td, count(r) AS G,
         sum(r) AS sr, sum(r*r) AS sr2
  FROM reps
), calc AS (
  SELECT CAST(G AS BIGINT) AS n_groups,
         CASE WHEN td <> 0 THEN tn/td ELSE 0.0 END AS ratio,
         CASE WHEN G > 1
              THEN sqrt((G - 1.0)/G * greatest(sr2 - sr*sr/G, 0.0))
              ELSE 0.0 END AS se
  FROM agg
)
SELECT n_groups, round(ratio, 6) AS ratio, round(se, 6) AS jack_se,
       round(ratio - 1.959964*se, 6) AS ci_lo,
       round(ratio + 1.959964*se, 6) AS ci_hi
FROM calc
"""

    # Same (ts, event_id) order, same 3-lead path, same total order.
    o["events_top_paths"] = """
WITH seq AS (
  SELECT event_type AS p0,
         lead(event_type, 1) OVER w AS p1,
         lead(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT p0 || ' > ' || p1 || ' > ' || p2 AS path,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE p2 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20
"""

    # Same (ts, event_id) order, same <=-gap rule, same integer-us
    # durations (epoch_us == Spark's unix_micros — no float drift).
    o["events_sessions"] = """
WITH prep AS (
  SELECT user_id, ts, epoch_us(ts) AS us, event_id AS o,
         event_type AS ty, CAST(value AS DOUBLE) AS v
  FROM events
), flagged AS (
  SELECT *, CASE WHEN us - lag(us) OVER
                   (PARTITION BY user_id ORDER BY ts, o)
                 <= 1800000000 THEN 0 ELSE 1 END AS newf
  FROM prep
), sess AS (
  SELECT *, sum(newf) OVER (PARTITION BY user_id ORDER BY ts, o
                            ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
       min(ts) AS start_ts, max(ts) AS end_ts,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT ty) AS BIGINT) AS n_types,
       CAST(max(us) - min(us) AS BIGINT) AS duration_us,
       round(sum(v), 4) AS session_value
FROM sess GROUP BY user_id, sid
"""

    # Same daily collapse, same calendar-join lag-7 forecast, same
    # rank-based split and k-th-order-statistic conformal quantile.
    o["stats_conformal"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, avg(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), scored AS (
  SELECT a.day, a.v, b.v AS pred, abs(a.v - b.v) AS s
  FROM daily a JOIN daily b ON a.day = b.day + 7
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY day) AS rn,
         count(*) OVER () AS n
  FROM scored
), params AS (
  SELECT CAST(ceil(0.5 * n) AS INT) AS n_cal, n FROM ranked LIMIT 1
), q AS (
  SELECT s AS qv FROM (
    SELECT r.s, r.day,
           row_number() OVER (ORDER BY r.s, r.day) AS sr,
           p.n_cal
    FROM ranked r CROSS JOIN params p
    WHERE r.rn <= p.n_cal AND p.n_cal < p.n
  )
  WHERE sr = least(CAST(ceil(0.8 * (n_cal + 1)) AS INT), n_cal)
)
SELECT CAST(r.day AS VARCHAR) AS day, round(r.v, 6) AS value,
       round(r.pred, 6) AS pred, round(r.pred - q.qv, 6) AS lo,
       round(r.pred + q.qv, 6) AS hi,
       (r.v >= r.pred - q.qv AND r.v <= r.pred + q.qv) AS covered
FROM ranked r CROSS JOIN params p CROSS JOIN q
WHERE r.rn > p.n_cal AND p.n_cal < p.n
"""

    # Same md5 keep/pick draws, same broadcast category index, same
    # debias identity (0.25/0.75 are exact binary fractions: no drift).
    o["privacy_rand_response"] = """
WITH cats AS (
  SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n_true
  FROM events GROUP BY 1
), idx AS (
  SELECT category, row_number() OVER (ORDER BY category) - 1 AS i
  FROM cats
), tot AS (
  SELECT CAST(sum(n_true) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k
  FROM cats
), draws AS (
  SELECT event_type AS t,
    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':42:keep'),
         1, 15) AS BIGINT) / 1152921504606846976.0 AS uk,
    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':42:pick'),
         1, 15) AS BIGINT) / 1152921504606846976.0 AS up
  FROM events
), rep AS (
  SELECT CASE WHEN d.uk < 0.75 THEN d.t ELSE i.category END AS category
  FROM draws d CROSS JOIN tot
  JOIN idx i
    ON i.i = least(CAST(floor(d.up * tot.k) AS INT),
                   CAST(tot.k AS INT) - 1)
), obs AS (
  SELECT category, CAST(count(*) AS BIGINT) AS n_obs
  FROM rep GROUP BY 1
)
SELECT c.category, c.n_true,
       coalesce(o.n_obs, 0) AS n_obs,
       round((coalesce(o.n_obs, 0) - tot.n * 0.25 / tot.k) / 0.75, 4)
         AS n_est
FROM cats c LEFT JOIN obs o USING (category) CROSS JOIN tot
"""

    # Same md5 in-class order, same minority-class cap.
    o["sample_balanced"] = """
WITH ranked AS (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS position
  FROM documents
), cap AS (
  SELECT min(cnt) AS cap
  FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
)
SELECT doc_id, lang, source, n_chars,
       CAST(position AS BIGINT) AS position
FROM ranked CROSS JOIN cap WHERE position <= cap
"""

    # Same tokenizer, same md5 split, same Laplace table and rounded
    # argmax; base/term-count CTEs materialized (multi-referenced).
    o["classify_nb"] = """
WITH base AS MATERIALIZED (
  SELECT doc_id AS id, lang AS l,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> length(x) >= 2) AS ts,
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
               1, 15) AS BIGINT) % 2 = 0) AS tr
  FROM documents
), tcc AS MATERIALIZED (
  SELECT id, l, tr, t, count(*) AS c
  FROM (SELECT id, l, tr, unnest(ts) AS t FROM base)
  GROUP BY id, l, tr, t
), train_tc AS MATERIALIZED (
  SELECT l, t, sum(c) AS ct FROM tcc WHERE tr GROUP BY l, t
), lang_tot AS (SELECT l, sum(ct) AS nl FROM train_tc GROUP BY l),
vocab AS (SELECT DISTINCT t FROM train_tc),
vsize AS (SELECT count(*) AS v FROM vocab),
dense AS MATERIALIZED (
  SELECT vocab.t, lt.l,
         ln((coalesce(tt.ct, 0) + 1.0) / (lt.nl + v.v)) AS lp
  FROM vocab CROSS JOIN lang_tot lt CROSS JOIN vsize v
  LEFT JOIN train_tc tt ON tt.l = lt.l AND tt.t = vocab.t
), tr_docs AS (SELECT l AS pl, count(*) AS dn FROM base WHERE tr GROUP BY 1),
tr_tot AS (SELECT sum(dn) AS dtot FROM tr_docs),
priors AS (
  SELECT pl, ln(dn / CAST(dtot AS DOUBLE)) AS pr
  FROM tr_docs CROSS JOIN tr_tot
), test_sums AS (
  SELECT tcc.id, dense.l AS pl, sum(tcc.c * dense.lp) AS ll
  FROM tcc JOIN dense ON tcc.t = dense.t
  WHERE NOT tcc.tr GROUP BY tcc.id, dense.l
), spine AS (
  SELECT id, l AS actual, pl, pr FROM base CROSS JOIN priors
  WHERE NOT tr
), scored AS (
  SELECT spine.id, actual, spine.pl,
         round(pr + coalesce(ll, 0.0), 6) AS score
  FROM spine LEFT JOIN test_sums
    ON test_sums.id = spine.id AND test_sums.pl = spine.pl
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY score DESC, pl ASC) AS rk
  FROM scored
)
SELECT actual, pl AS predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM ranked WHERE rk = 1 GROUP BY actual, pl
"""

    # Chained-min formulation of the identical first-touch semantics;
    # integer-microsecond latencies, ANSI percentile interpolation.
    o["events_funnel_latency"] = """
WITH t1 AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, min(e.ts) AS ts2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY 1
), t3 AS (
  SELECT e.user_id, min(e.ts) AS ts3
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY 1
), l1 AS (
  SELECT (epoch_us(ts2) - epoch_us(ts1)) / 1000000.0 AS lat
  FROM t2 JOIN t1 USING (user_id)
), l2 AS (
  SELECT (epoch_us(ts3) - epoch_us(ts2)) / 1000000.0 AS lat
  FROM t3 JOIN t2 USING (user_id)
), a1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(quantile_cont(lat, 0.5), 6) AS med,
         round(quantile_cont(lat, 0.9), 6) AS p90
  FROM l1
), a2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(quantile_cont(lat, 0.5), 6) AS med,
         round(quantile_cont(lat, 0.9), 6) AS p90
  FROM l2
)
SELECT CAST(0 AS INTEGER) AS step_idx, 'view' AS from_step,
       'click' AS to_step, n AS n_users, med AS median_sec,
       p90 AS p90_sec
FROM a1
UNION ALL
SELECT CAST(1 AS INTEGER), 'click', 'purchase', n, med, p90 FROM a2
"""

    # Same md5 in-group rank, same stride key arithmetic.
    o["sample_interleave"] = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS position
  FROM documents
), w(lang, wt) AS (
  VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
         ('fr', 0.15), ('zh', 0.15)
)
SELECT doc_id, lang, CAST(position AS BIGINT) AS position,
       round(position / wt, 6) AS interleave_key
FROM ranked JOIN w USING (lang)
"""

    # Same md5 60-bit hashes, same k-min merges, same KMV estimator,
    # same trailing-window calendar arithmetic, same rounded ratio.
    o["events_stickiness"] = """
WITH d AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM events GROUP BY 1, 2
), sk AS (
  SELECT day, list_sort(list(h))[1:64] AS kmin FROM d GROUP BY day
), wmerge AS (
  SELECT a.day,
         list_sort(list_distinct(flatten(list(s.kmin))))[1:64] AS kmin
  FROM sk a JOIN sk s
    ON CAST(s.day AS DATE) <= CAST(a.day AS DATE)
   AND CAST(s.day AS DATE) > CAST(a.day AS DATE) - 7
  GROUP BY a.day
), est_d AS (
  SELECT day,
         round(CASE WHEN len(kmin) < 64 THEN CAST(len(kmin) AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0
                         / CAST(kmin[64] AS DOUBLE) END, 4) AS dau
  FROM sk
), est_w AS (
  SELECT day,
         round(CASE WHEN len(kmin) < 64 THEN CAST(len(kmin) AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0
                         / CAST(kmin[64] AS DOUBLE) END, 4) AS wau
  FROM wmerge
)
SELECT day, dau, wau, round(dau / wau, 4) AS stickiness
FROM est_d JOIN est_w USING (day)
"""

    # Same pinned centroids, same left-fold IEEE distance sequence,
    # same first-min tie-break, same rounded per-cluster mean.
    o["ml_silhouette"] = """
WITH c AS (
  SELECT vec_id AS cl, embedding AS ce FROM embeddings WHERE vec_id < 8
), d AS (
  SELECT e.vec_id, c.cl,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> (CAST(e.embedding[i] AS DOUBLE)
                   - CAST(c.ce[i] AS DOUBLE)) ^ 2)) AS d2
  FROM embeddings e CROSS JOIN c
), r AS (
  SELECT vec_id, cl, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
  FROM d
), own AS (
  SELECT vec_id, cl AS cluster, d2 AS a2 FROM r WHERE rn = 1
), other AS (
  SELECT d.vec_id, min(d.d2) AS b2
  FROM d JOIN own ON d.vec_id = own.vec_id AND d.cl <> own.cluster
  GROUP BY d.vec_id
), s AS (
  SELECT own.cluster,
         CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
              THEN (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
              ELSE 0.0 END AS si
  FROM own JOIN other USING (vec_id)
)
SELECT CAST(cluster AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       round(avg(si), 6) AS mean_silhouette
FROM s GROUP BY cluster
"""

    # Same integer-micros RANGE frame, same half-open bounds.
    o["events_pit_features"] = """
SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts,
       n_prev, value_prev
FROM (
  SELECT event_id, user_id, ts, event_type,
         CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS n_prev,
         round(coalesce(sum(CAST(value AS DOUBLE)) OVER w, 0.0), 4)
           AS value_prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 604799999999 PRECEDING AND 1 PRECEDING)
)
WHERE event_type = 'purchase'
"""

    # Same contingency cells, same fold-the-margin entropy identity.
    o["stats_mutual_information"] = """
WITH cell AS (
  SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), ra AS (SELECT a, sum(o) AS ta FROM cell GROUP BY a),
rb AS (SELECT b, sum(o) AS tb FROM cell GROUP BY b),
tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS na,
               count(DISTINCT b) AS nb FROM cell),
agg AS (
  SELECT max(n) AS n, max(na) AS na, max(nb) AS nb,
         sum(o/CAST(n AS DOUBLE)
             * ln(o * CAST(n AS DOUBLE) / (CAST(ta AS DOUBLE) * tb)))
           AS mi,
         sum(o/CAST(n AS DOUBLE) * -ln(ta / CAST(n AS DOUBLE))) AS ha,
         sum(o/CAST(n AS DOUBLE) * -ln(tb / CAST(n AS DOUBLE))) AS hb
  FROM cell JOIN ra USING (a) JOIN rb USING (b), tot
)
SELECT CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       round(greatest(mi, 0.0), 6) AS mi,
       round(least(CASE WHEN ha > 0 AND hb > 0
                        THEN greatest(mi, 0.0) / sqrt(ha * hb)
                        ELSE 0.0 END, 1.0), 6) AS nmi
FROM agg
"""

    # Same Monday-start week cohorts, same cumulative per-member curve.
    o["events_ltv_cohorts"] = """
WITH fw AS (
  SELECT user_id AS u,
         min(CAST(date_trunc('week', ts) AS DATE)) AS cohort
  FROM events GROUP BY 1
), sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
  FROM fw GROUP BY 1
), p AS (
  SELECT fw.cohort,
         CAST(datediff('day', fw.cohort,
                       CAST(date_trunc('week', e.ts) AS DATE)) / 7
              AS INTEGER) AS weeks_since,
         CAST(e.value AS DOUBLE) AS v
  FROM events e JOIN fw ON fw.u = e.user_id
  WHERE e.event_type = 'purchase'
), cell AS (
  SELECT cohort, weeks_since, sum(v) AS rev FROM p GROUP BY 1, 2
)
SELECT CAST(cohort AS VARCHAR) AS cohort_week, weeks_since, cohort_users,
       round(rev, 4) AS revenue,
       round(sum(rev) OVER (PARTITION BY cohort ORDER BY weeks_since
                            ROWS UNBOUNDED PRECEDING)
             / cohort_users, 6) AS cum_ltv_per_user
FROM cell JOIN sizes USING (cohort)
"""

    # Same pair counts, same marginal average ranks, same weighted
    # Pearson identities.
    o["stats_spearman"] = """
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS va,
         CAST(floor(l_extendedprice / 1000.0) AS DOUBLE) AS vb
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), pairs AS (
  SELECT va, vb, count(*) AS c FROM base GROUP BY 1, 2
), ma AS (
  SELECT va, (sum(t) OVER (ORDER BY va ROWS UNBOUNDED PRECEDING) - t)
               + (t + 1)/2.0 AS ra
  FROM (SELECT va, sum(c) AS t FROM pairs GROUP BY va)
), mb AS (
  SELECT vb, (sum(t) OVER (ORDER BY vb ROWS UNBOUNDED PRECEDING) - t)
               + (t + 1)/2.0 AS rb
  FROM (SELECT vb, sum(c) AS t FROM pairs GROUP BY vb)
), agg AS (
  SELECT sum(c) AS n, sum(c*ra) AS sa, sum(c*rb) AS sb,
         sum(c*ra*ra) AS saa, sum(c*rb*rb) AS sbb, sum(c*ra*rb) AS sab
  FROM pairs JOIN ma USING (va) JOIN mb USING (vb)
)
SELECT CAST(n AS BIGINT) AS n,
       round(CASE WHEN (saa - sa*sa/n) > 0 AND (sbb - sb*sb/n) > 0
                  THEN (sab - sa*sb/n)
                       / sqrt((saa - sa*sa/n) * (sbb - sb*sb/n))
                  ELSE 0.0 END, 6) AS rho
FROM agg
"""

    # Full composition twin: the seasonal_decompose arithmetic, then
    # exact-median modified z on the (4-decimal-rounded) residuals.
    o["pipeline_daily_anomaly"] = """
WITH d AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
), t AS (
  SELECT day, y,
         CASE WHEN count(*) OVER w7 = 7 THEN avg(y) OVER w7 END AS trend,
         (row_number() OVER (ORDER BY day) - 1) % 7 AS phase
  FROM d
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), t2 AS (SELECT *, y - trend AS detr FROM t),
ph AS (SELECT phase, avg(detr) AS s_raw FROM t2 GROUP BY phase),
phc AS (SELECT phase, s_raw - (SELECT avg(s_raw) FROM ph) AS s FROM ph),
resid AS (
  SELECT day, round(y - trend - s, 4) AS r
  FROM t2 JOIN phc USING (phase) WHERE trend IS NOT NULL
), med AS (SELECT quantile_cont(r, 0.5) AS md FROM resid),
mad AS (
  SELECT quantile_cont(abs(r - md), 0.5) AS mad FROM resid CROSS JOIN med
)
SELECT 'all' AS series, day AS id, r AS value,
       round(0.6745*(r - md)/mad, 6) AS mad_z
FROM resid, med, mad
WHERE mad > 0 AND abs(0.6745*(r - md)/mad) > 1.5
"""

    # Same daily collapse, same calendar lag pairing, same estimator.
    o["stats_acf"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), mom AS (
  SELECT max(m) AS m, sum((v - m)*(v - m)) AS ss FROM (
    SELECT v, avg(v) OVER () AS m FROM daily
  )
), lagged AS (
  SELECT d + to_days(CAST(lag AS INTEGER)) AS d, lag, v AS v_lag
  FROM daily CROSS JOIN (SELECT unnest(range(1, 8)) AS lag)
), pairs AS (
  SELECT lagged.lag, daily.v, lagged.v_lag
  FROM daily JOIN lagged USING (d)
)
SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
       round(CASE WHEN max(ss) > 0
                  THEN sum((v - max_m)*(v_lag - max_m))/max(ss)
                  ELSE 0.0 END, 6) AS acf
FROM (SELECT pairs.*, mom.m AS max_m, mom.ss FROM pairs CROSS JOIN mom)
GROUP BY lag ORDER BY lag
"""

    # Same exact percentile cuts (quantile_cont == ANSI
    # percentile_cont == Spark's percentile), same md5 in-phase order.
    o["sample_curriculum"] = """
WITH cuts AS (
  SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS c0,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS c1,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS c2
  FROM documents
), staged AS (
  SELECT 1 + CAST(CAST(n_chars AS DOUBLE) > c0 AS INT)
           + CAST(CAST(n_chars AS DOUBLE) > c1 AS INT)
           + CAST(CAST(n_chars AS DOUBLE) > c2 AS INT) AS phase,
         doc_id, CAST(n_chars AS DOUBLE) AS score,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents CROSS JOIN cuts
)
SELECT phase,
       row_number() OVER (PARTITION BY phase ORDER BY h, doc_id)
         AS position,
       doc_id, round(score, 6) AS score
FROM staged
"""

    # Same daily collapse, same prefix-sum − running-min identity.
    o["stats_cusum"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, avg(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), mom AS (SELECT avg(v) AS m, stddev_samp(v) AS s FROM daily),
z AS (
  SELECT day, v,
         CASE WHEN coalesce(s, 0.0) > 0 THEN (v - m)/s ELSE 0.0 END AS z
  FROM daily CROSS JOIN mom
), pre AS (
  SELECT day, v, z,
         sum(z - 0.5) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pp,
         sum(-z - 0.5) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pn
  FROM z
), s AS (
  SELECT day, v, z,
         pp - least(0.0, min(pp) OVER (ORDER BY day
                                       ROWS UNBOUNDED PRECEDING)) AS sp,
         pn - least(0.0, min(pn) OVER (ORDER BY day
                                       ROWS UNBOUNDED PRECEDING)) AS sn
  FROM pre
)
SELECT CAST(day AS VARCHAR) AS day, round(v, 6) AS value,
       round(z, 6) AS z, round(sp, 6) AS s_pos, round(sn, 6) AS s_neg,
       (sp > 4.0 OR sn > 4.0) AS alarm
FROM s
"""

    # Same pooled-range bins, same 1e-4 clamp, same per-bin terms.
    o["stats_psi"] = """
WITH f AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), mm AS (SELECT min(v) AS lo, max(v) AS hi FROM f),
per AS (
  SELECT CASE WHEN hi <= lo THEN 0
              ELSE least(CAST(floor((v - lo)/((hi - lo)/10.0)) AS INT), 9)
         END AS bin,
         lo, hi,
         sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS cb
  FROM f CROSS JOIN mm GROUP BY 1, 2, 3
), s AS (
  SELECT bin,
         lo + bin*((hi - lo)/10.0) AS blo,
         lo + (bin + 1)*((hi - lo)/10.0) AS bhi,
         greatest(ca / CAST(sum(ca) OVER () AS DOUBLE), 0.0001) AS pa,
         greatest(cb / CAST(sum(cb) OVER () AS DOUBLE), 0.0001) AS pb
  FROM per
)
SELECT bin, round(blo, 6) AS lo, round(bhi, 6) AS hi,
       round(pa, 6) AS p_a, round(pb, 6) AS p_b,
       round((pa - pb)*ln(pa/pb), 6) AS term,
       round(sum((pa - pb)*ln(pa/pb)) OVER (), 6) AS psi
FROM s
"""

    # Same average ranks, tie-corrected H, Wilson-Hilferty p.
    o["stats_kruskal_wallis"] = """
WITH per AS (
  SELECT CAST(value AS DOUBLE) AS v, event_type AS g, count(*) AS c
  FROM events GROUP BY 1, 2
), tv AS (SELECT v, sum(c) AS t FROM per GROUP BY v),
ranked AS (
  SELECT v, t,
         (sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t)
           + (t + 1)/2.0 AS avgrank
  FROM tv
), joined AS (
  SELECT per.g, per.c, ranked.avgrank FROM per JOIN ranked USING (v)
), per_g AS (
  SELECT g, sum(c) AS ng, sum(c*avgrank) AS rg FROM joined GROUP BY g
), tot AS (
  SELECT sum(t) AS n, sum(CAST(t AS DOUBLE)*t*t - t) AS tm FROM tv
), agg AS (
  SELECT count(*) AS k, max(n) AS n, sum(rg*rg/ng) AS s, max(tm) AS tm
  FROM per_g CROSS JOIN tot
), calc AS (
  SELECT k, n,
         greatest(CASE WHEN (1.0 - tm/(CAST(n AS DOUBLE)*n*n - n)) > 0
           THEN (12.0/(CAST(n AS DOUBLE)*(n + 1))*s - 3.0*(n + 1))
                / (1.0 - tm/(CAST(n AS DOUBLE)*n*n - n))
           ELSE 0.0 END, 0.0) AS h,
         CAST(k - 1 AS DOUBLE) AS nu
  FROM agg
), zc AS (
  SELECT k, n, h, nu,
         CASE WHEN nu > 0 AND h > 0
              THEN (pow(h/nu, 1.0/3.0) - (1.0 - 2.0/(9.0*nu)))
                   / sqrt(2.0/(9.0*nu))
              ELSE 0.0 END AS z
  FROM calc
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc),
pp AS (
  SELECT k, n, h, nu, z,
         (2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))))/2.0 AS half
  FROM ph
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       round(h, 6) AS h_stat, CAST(nu AS BIGINT) AS dof,
       round(least(greatest(CASE WHEN z >= 0 THEN half
                                 ELSE 1.0 - half END, 0.0), 1.0), 6)
         AS p_value
FROM pp
"""

    # Same per-day means, exact median pairwise slope, corrected z.
    o["stats_trend"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), pairs AS (
  SELECT (b.v - a.v) / datediff('day', a.d, b.d) AS slope,
         sign(b.v - a.v) AS sgn
  FROM daily a JOIN daily b ON a.d < b.d
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
agg AS (
  SELECT quantile_cont(slope, 0.5) AS sen, sum(sgn) AS s FROM pairs
), calc AS (
  SELECT n_days, sen, s,
         CAST(n_days AS DOUBLE)*(n_days - 1)*(2*n_days + 5)/18.0 AS var
  FROM agg CROSS JOIN nd
), zc AS (
  SELECT n_days, sen, s,
         CASE WHEN var <= 0 THEN 0.0
              WHEN s > 0 THEN (s - 1)/sqrt(var)
              WHEN s < 0 THEN (s + 1)/sqrt(var)
              ELSE 0.0 END AS z
  FROM calc
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc)
SELECT n_days, round(sen, 6) AS sen_slope, CAST(s AS DOUBLE) AS mk_s,
       round(z, 6) AS z,
       round(least(2.0*(exp(-z*z/2.0)/2.5066282746310002)
         *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
            + tt*(-1.821255978 + tt*1.330274429))))), 1.0), 6) AS p_value
FROM ph
"""

    o["privacy_k_anonymity"] = """
SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       count(*) < 10 AS violates
FROM customer GROUP BY 1, 2
"""

    # Same md5-uniform, same inverse-CDF Laplace, same 1e-18 clamp.
    o["privacy_dp_counts"] = """
WITH per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
), u AS (
  SELECT event_type, n,
         CAST('0x' || substr(md5(event_type || ':' || '42'), 1, 15)
              AS BIGINT) / 1152921504606846976.0 AS u
  FROM per
)
SELECT event_type, n,
       round(greatest(n + (-1.0) * sign(u - 0.5)
         * ln(greatest(1.0 - 2.0*abs(u - 0.5), 1e-18)), 0.0), 4)
         AS noisy_n
FROM u
"""

    # Markov removal-effect twin: identical journey construction and
    # the identical 25 value iterations unrolled as chained CTEs
    # (tr/c0/te MATERIALIZED — each is referenced 24+ times).
    _mk = """
WITH conv AS (
  SELECT user_id AS u, min(ts) AS cts FROM events
  WHERE event_type = 'purchase' GROUP BY 1
), touches AS (
  SELECT e.user_id AS u, e.ts, e.event_id, e.event_type AS ch, c.cts
  FROM events e LEFT JOIN conv c ON c.u = e.user_id
  WHERE e.event_type <> 'purchase' AND (c.cts IS NULL OR e.ts < c.cts)
), seq AS (
  SELECT u, ch,
         row_number() OVER (PARTITION BY u ORDER BY ts, event_id) AS rn,
         lead(ch) OVER (PARTITION BY u ORDER BY ts, event_id) AS nxt,
         cts IS NOT NULL AS converted
  FROM touches
), raw AS (
  SELECT 'START' AS s, ch AS t FROM seq WHERE rn = 1
  UNION ALL
  SELECT ch, coalesce(nxt, CASE WHEN converted THEN 'CONV' ELSE 'NULL' END)
  FROM seq
  UNION ALL
  SELECT 'START', 'CONV' FROM conv
  WHERE NOT EXISTS (SELECT 1 FROM touches WHERE touches.u = conv.u)
), counts AS (
  SELECT s, t, count(*) AS n FROM raw GROUP BY 1, 2
), base_p AS (
  SELECT s, t, n / CAST(sum(n) OVER (PARTITION BY s) AS DOUBLE) AS p
  FROM counts
), variants AS (
  SELECT DISTINCT s AS variant FROM base_p WHERE s <> 'START'
  UNION ALL SELECT 'base'
), tr AS MATERIALIZED (
  SELECT variant, s,
         CASE WHEN variant <> 'base' AND t = variant THEN 'NULL'
              ELSE t END AS t,
         sum(p) AS p
  FROM base_p CROSS JOIN variants
  GROUP BY 1, 2, 3
), c0 AS MATERIALIZED (
  SELECT variant, s,
         coalesce(sum(CASE WHEN t = 'CONV' THEN p END), 0.0) AS c
  FROM tr GROUP BY 1, 2
), te AS MATERIALIZED (
  SELECT * FROM tr WHERE t NOT IN ('CONV', 'NULL')
), v1 AS MATERIALIZED (SELECT variant, s, c AS v FROM c0)"""
    for _it in range(2, 26):
        _mk += f""",
v{_it} AS MATERIALIZED (
  SELECT c0.variant, c0.s, c0.c + coalesce(x.m, 0.0) AS v
  FROM c0 LEFT JOIN (
    SELECT te.variant, te.s, sum(te.p * v{_it - 1}.v) AS m
    FROM te JOIN v{_it - 1}
      ON te.variant = v{_it - 1}.variant AND te.t = v{_it - 1}.s
    GROUP BY 1, 2) x
  ON x.variant = c0.variant AND x.s = c0.s
)"""
    _mk += """,
sv AS (SELECT variant, v FROM v25 WHERE s = 'START'),
b AS (SELECT v AS pb FROM sv WHERE variant = 'base'),
eff AS (
  SELECT variant AS channel, pb, v AS pr,
         CASE WHEN pb > 0 THEN greatest(1.0 - v/pb, 0.0)
              ELSE 0.0 END AS rm
  FROM sv, b WHERE variant <> 'base'
)
SELECT channel, round(pb, 6) AS p_base, round(pr, 6) AS p_removed,
       round(rm, 6) AS removal_effect,
       round(CASE WHEN sum(rm) OVER () > 0 THEN rm / sum(rm) OVER ()
                  ELSE 0.0 END, 6) AS attribution
FROM eff
"""
    o["events_markov_attribution"] = _mk

    # Same contingency counts, same empty-cell-safe chi2 identity.
    o["stats_chi2_independence"] = """
WITH cell AS (
  SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), ra AS (SELECT a, sum(o) AS ta FROM cell GROUP BY a),
rb AS (SELECT b, sum(o) AS tb FROM cell GROUP BY b),
tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS na,
               count(DISTINCT b) AS nb FROM cell)
SELECT CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST((na - 1) * (nb - 1) AS BIGINT) AS dof,
       round(greatest(n * (sum(o*o / (CAST(ta AS DOUBLE) * tb)) - 1.0),
                      0.0), 6) AS chi2,
       round(sqrt(greatest(n * (sum(o*o / (CAST(ta AS DOUBLE) * tb)) - 1.0),
                           0.0)
                  / (n * CAST(least(na - 1, nb - 1) AS DOUBLE))), 6)
         AS cramers_v
FROM cell JOIN ra USING (a) JOIN rb USING (b), tot
GROUP BY n, na, nb
"""

    # The parity split binned on the same fixed grid, then the same
    # ECDF / lambda / series arithmetic as stats_hist_ks.
    o["stream_hist_drift"] = """
WITH b AS (
  SELECT event_id % 2 AS g,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g2 AS (
  SELECT bin,
         sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), e AS (
  SELECT sum(ca) OVER (ORDER BY bin) / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY bin) / sum(cb) OVER () AS fb,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g2
), d AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         max(abs(fa - fb)) AS d_stat
  FROM e GROUP BY n_a, n_b
), l AS (
  SELECT *, (sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE)) + 0.12
             + 0.11 / sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE))) * d_stat
            AS lam
  FROM d
)
SELECT n_a, n_b, round(d_stat, 6) AS d_stat,
       round(CASE WHEN lam < 0.05 THEN 1.0 ELSE
         least(greatest(2.0 * list_reduce(list_transform(range(1, 101),
           j -> pow(-1.0, j - 1) * exp(-2.0 * j * j * lam * lam)),
           (x, y) -> x + y), 0.0), 1.0) END, 6) AS p_value
FROM l
"""

    # Same exp(-n_chars/500) weights, same (Σw)²/Σw² arithmetic.
    o["curation_ess"] = """
WITH w AS (
  SELECT source, exp(-n_chars / 500.0) AS w FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       round(sum(w), 4) AS weight_sum,
       round(sum(w) * sum(w) / sum(w * w), 4) AS ess,
       round(sum(w) * sum(w) / sum(w * w) / count(*), 4) AS ess_ratio
FROM w GROUP BY source
"""

    # The whole chain replayed: winsorize -> within-source percent_rank
    # -> pooled 101-cut interpolation -> threshold -> per-source summary.
    o["pipeline_curation_v2"] = """
WITH cuts0 AS (
  SELECT source,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS plo,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS phi
  FROM documents GROUP BY source
), w AS (
  SELECT doc_id, d.source,
         round(least(greatest(CAST(n_chars AS DOUBLE), plo), phi), 6) AS wv
  FROM documents d JOIN cuts0 ON cuts0.source = d.source
), cuts AS (
  SELECT list_transform(
           quantile_cont(wv, list_transform(range(0, 101), i -> i / 100.0)),
           x -> CAST(x AS DOUBLE)) AS c
  FROM w
), r AS (
  SELECT doc_id, source, wv,
         percent_rank() OVER (PARTITION BY source ORDER BY wv) AS p
  FROM w
), qn AS (
  SELECT source,
         round(c[CAST(floor(p * 100) AS INTEGER) + 1]
                 * (1.0 - (p * 100 - floor(p * 100)))
               + c[least(CAST(floor(p * 100) AS INTEGER) + 1, 100) + 1]
                 * (p * 100 - floor(p * 100)), 6) AS normalized
  FROM r, cuts
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       round(avg(normalized), 4) AS mean_normalized
FROM qn WHERE normalized >= 300.0 GROUP BY source
"""

    # Same per-source exact [5%, 95%] interpolated band, same clip.
    o["curation_winsorize"] = """
WITH cuts AS (
  SELECT source,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS plo,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS phi
  FROM documents GROUP BY source
)
SELECT doc_id, d.source, n_chars,
       round(least(greatest(CAST(n_chars AS DOUBLE), plo), phi), 6)
         AS winsorized
FROM documents d JOIN cuts ON cuts.source = d.source
"""

    # Same 2^(-age/half_life) weights from max(ts), same w·x sums.
    o["stats_decayed_moments"] = """
WITH m AS (SELECT max(ts) AS ref FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(pow(2.0, -(epoch(m.ref) - epoch(ts)) / 86400.0 / 7.0)), 4)
         AS decayed_weight,
       round(sum(pow(2.0, -(epoch(m.ref) - epoch(ts)) / 86400.0 / 7.0)
                 * value), 4) AS decayed_sum,
       round(sum(pow(2.0, -(epoch(m.ref) - epoch(ts)) / 86400.0 / 7.0)
                 * value)
             / sum(pow(2.0, -(epoch(m.ref) - epoch(ts)) / 86400.0 / 7.0)), 4)
         AS decayed_mean
FROM events, m
GROUP BY event_type
"""

    # Same N_h * sigma_h weights, saturated rate, rounded targets.
    o["sample_neyman"] = """
WITH per AS (
  SELECT source AS stratum,
         CAST(count(*) AS BIGINT) AS n_rows,
         round(coalesce(stddev_pop(n_chars), 0.0), 6) AS sigma
  FROM documents GROUP BY source
), w AS (
  SELECT *,
         CASE WHEN sum(n_rows * sigma) OVER () = 0
              THEN n_rows / CAST(sum(n_rows) OVER () AS DOUBLE)
              ELSE n_rows * sigma / sum(n_rows * sigma) OVER ()
         END AS weight
  FROM per
)
SELECT stratum, n_rows, sigma, round(weight, 6) AS weight,
       round(least(1.0, 2000 * round(weight, 6) / n_rows), 6) AS rate,
       CAST(round(n_rows * round(least(1.0, 2000 * round(weight, 6) / n_rows), 6))
            AS BIGINT) AS n_target
FROM w
"""

    # Unrolled greedy k-center: the same double left-fold squared-L2
    # ((x-y)*(x-y), never pow) and the same desc-dist/asc-id tie-break,
    # so selection is bit-identical, not approximately equal.
    def _kc_dsq(a: str, b: str) -> str:
        d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        return (
            f"list_reduce(list_transform(range(1, 65), i -> {d} * {d}), "
            "(x, y) -> x + y)"
        )

    _kc_k = 8
    _kc = [
        "WITH e AS (SELECT vec_id, embedding FROM embeddings)",
        ", s0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1)",
        ", d1 AS (SELECT e.vec_id, e.embedding, "
        f"{_kc_dsq('e.embedding', 's0.embedding')} AS md FROM e, s0)",
    ]
    for _j in range(1, _kc_k):
        _kc.append(
            f", s{_j} AS (SELECT vec_id, embedding, md FROM d{_j} "
            "ORDER BY md DESC, vec_id ASC LIMIT 1)"
        )
        if _j < _kc_k - 1:
            _kc.append(
                f", d{_j + 1} AS (SELECT d.vec_id, d.embedding, "
                f"least(d.md, {_kc_dsq('d.embedding', f's{_j}.embedding')}) "
                f"AS md FROM d{_j} d, s{_j})"
            )
    _kc.append(
        " SELECT 0 AS sel_order, vec_id, CAST(NULL AS DOUBLE) AS dist_sq FROM s0"
    )
    for _j in range(1, _kc_k):
        _kc.append(
            f" UNION ALL SELECT {_j}, vec_id, round(md, 6) FROM s{_j}"
        )
    o["sample_kcenter"] = "".join(_kc)

    # MMR twin: identical double left-folds (dot + norms), identical
    # greedy passes unrolled; 1-λ interpolated via repr() so the SQL
    # constant is the same double Spark's 1.0-0.7 produces.
    def _mmr_dot(a: str, b: str) -> str:
        p = f"(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
        return (
            f"list_reduce(list_transform(range(1, 65), i -> {p}), "
            "(x, y) -> x + y)"
        )

    def _mmr_norm(a: str) -> str:
        p = f"(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))"
        return (
            f"sqrt(list_reduce(list_transform(range(1, 65), i -> {p}), "
            "(x, y) -> x + y))"
        )

    def _mmr_cos(a: str, b: str) -> str:
        return f"({_mmr_dot(a, b)} / ({_mmr_norm(a)} * {_mmr_norm(b)}))"

    _mmr_k, _mmr_lam = 8, 0.7
    _mmr_oml = repr(1.0 - _mmr_lam)
    _mmr = [
        "WITH e AS (SELECT vec_id, embedding FROM embeddings)",
        ", qv AS (SELECT embedding AS q FROM e ORDER BY vec_id LIMIT 1)",
        ", scored AS (SELECT vec_id, embedding, "
        f"{_mmr_cos('e.embedding', 'qv.q')} AS score FROM e, qv)",
        ", cand AS MATERIALIZED (SELECT * FROM scored "
        "ORDER BY score DESC, vec_id LIMIT 50)",
        ", s0 AS MATERIALIZED (SELECT vec_id, embedding, score FROM cand "
        "ORDER BY score DESC, vec_id LIMIT 1)",
    ]
    for _j in range(1, _mmr_k):
        prev = [f"s{_i}" for _i in range(_j)]
        sims = ", ".join(
            _mmr_cos("c.embedding", f"{s}.embedding") for s in prev
        )
        maxsim = sims if len(prev) == 1 else f"greatest({sims})"
        notin = ", ".join(f"{s}.vec_id" for s in prev)
        froms = ", ".join(["cand c"] + prev)
        _mmr.append(
            f", m{_j} AS (SELECT c.vec_id, c.embedding, c.score, "
            f"{_mmr_lam!r}*c.score - {_mmr_oml}*({maxsim}) AS mmr "
            f"FROM {froms} WHERE c.vec_id NOT IN ({notin}))"
            f", s{_j} AS MATERIALIZED (SELECT * FROM m{_j} "
            "ORDER BY mmr DESC, vec_id LIMIT 1)"
        )
    _mmr.append(
        " SELECT 0 AS sel_order, vec_id, round(score, 6) AS score, "
        "CAST(NULL AS DOUBLE) AS mmr FROM s0"
    )
    for _j in range(1, _mmr_k):
        _mmr.append(
            f" UNION ALL SELECT {_j}, vec_id, round(score, 6), "
            f"round(mmr, 6) FROM s{_j}"
        )
    o["sim_mmr_rerank"] = "".join(_mmr)

    # Same token rule, same tie-broken ranks, same closed-form LS fit.
    o["text_zipf_fit"] = f"""
WITH counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS f FROM (
    SELECT unnest({_SQL_TOKS}) AS tok FROM documents
  ) GROUP BY tok
), ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, tok ASC) AS r FROM counts
), pts AS (
  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
  FROM ranked WHERE r <= 10000
), tot AS (
  SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types FROM counts
), fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
  FROM pts
)
SELECT tot.n_tokens, tot.n_types,
       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
       round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
         AS intercept,
       round(pow(n*sxy - sx*sy, 2)
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
FROM fit, tot
"""

    # Same token rule + 0-based positions; adjacency via pos self-joins.
    o["text_index_phrase"] = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS w FROM documents
), toks AS (
  SELECT doc_id, unnest(w) AS tok, unnest(range(0, len(w))) AS pos FROM base
), m AS (
  SELECT a.doc_id, a.pos
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.tok = 'table' AND b.tok = 'scan'
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM m GROUP BY doc_id
"""

    # Same token rule; AND = per-doc distinct-term count equals |terms|.
    o["text_index_boolean"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), per AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE tok IN ('spark', 'query', 'window') GROUP BY doc_id, tok
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
       CAST(sum(tf) AS BIGINT) AS tf_total
FROM per GROUP BY doc_id HAVING count(*) = 3
"""

    # Same within-source percent_rank, same pooled 101 interpolated cut
    # points (quantile_cont == Spark's exact percentile), same lerp.
    o["curation_quantile_norm"] = """
WITH cuts AS (
  SELECT list_transform(
           quantile_cont(CAST(n_chars AS DOUBLE),
                         list_transform(range(0, 101), i -> i / 100.0)),
           x -> CAST(x AS DOUBLE)) AS c
  FROM documents
), r AS (
  SELECT doc_id, source, n_chars,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY CAST(n_chars AS DOUBLE)) AS p
  FROM documents
)
SELECT doc_id, source, n_chars,
       round(c[CAST(floor(p * 100) AS INTEGER) + 1]
               * (1.0 - (p * 100 - floor(p * 100)))
             + c[least(CAST(floor(p * 100) AS INTEGER) + 1, 100) + 1]
               * (p * 100 - floor(p * 100)), 6) AS normalized
FROM r, cuts
"""

    # Same per-(label, dim) centroid averages and cosine arithmetic.
    o["curation_embedding_drift"] = """
WITH b AS (
  SELECT label AS grp, generate_subscripts(embedding, 1) AS i,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
  FROM embeddings WHERE vec_id % 10 != 0
), a AS (
  SELECT label AS grp, generate_subscripts(embedding, 1) AS i,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
  FROM embeddings
), cb AS (
  SELECT grp, i, avg(v) AS c, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY grp, i
), ca AS (
  SELECT grp, i, avg(v) AS c, CAST(count(*) AS BIGINT) AS n
  FROM a GROUP BY grp, i
)
SELECT coalesce(cb.grp, ca.grp) AS "group",
       max(cb.n) AS n_before, max(ca.n) AS n_after,
       round(CASE WHEN sqrt(sum(cb.c * cb.c)) > 0
                   AND sqrt(sum(ca.c * ca.c)) > 0
                  THEN sum(cb.c * ca.c)
                       / (sqrt(sum(cb.c * cb.c)) * sqrt(sum(ca.c * ca.c)))
             END, 6) AS centroid_cosine
FROM cb FULL OUTER JOIN ca ON cb.grp = ca.grp AND cb.i = ca.i
GROUP BY 1
"""

    # Same share/KL arithmetic; groups new in `after` can't exist here
    # (a filter only removes rows), so the null-KL branch stays empty.
    o["curation_drift"] = """
WITH b AS (
  SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_before,
         count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS sb
  FROM documents GROUP BY lang
), a AS (
  SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_after,
         count(*) / CAST((SELECT count(*) FROM documents
                          WHERE length(text) >= 200) AS DOUBLE) AS sa
  FROM documents WHERE length(text) >= 200 GROUP BY lang
)
SELECT coalesce(b.grp, a.grp) AS lang,
       coalesce(n_before, 0) AS n_before,
       coalesce(n_after, 0) AS n_after,
       round(coalesce(sb, 0), 6) AS share_before,
       round(coalesce(sa, 0), 6) AS share_after,
       round(coalesce(sa, 0) - coalesce(sb, 0), 6) AS share_delta,
       round(CASE WHEN coalesce(n_before, 0) > 0
                  THEN coalesce(n_after, 0) / CAST(n_before AS DOUBLE) END,
             6) AS retention,
       round(CASE WHEN coalesce(sa, 0) = 0 THEN 0.0
                  WHEN coalesce(sb, 0) > 0 THEN sa * ln(sa / sb)
             END, 6) AS kl_term
FROM b FULL OUTER JOIN a ON b.grp = a.grp
"""

    # Left-outer twin: the purchase side filter must live in the FROM
    # (a WHERE would re-filter after null-padding), the error-side
    # predicates in the ON clause.
    o["stream_interval_join_outer"] = """
SELECT p.user_id AS user_id, p.event_id AS purchase_id, e.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND e.ts >= p.ts - INTERVAL 30 MINUTE
 AND e.ts < p.ts
"""

    # Twin of the multimodal fake-decode arithmetic (multimodal.py):
    # h = md5long(text) % P; image feature d = h*(2d+3) % P over dims
    # 0..7; video frame value = ((h + idx*2654435761) % P) * 3 % P over
    # frame indices 0, 30, 60, ... < n_frames (media_type from h % 3).
    o["multimodal_pipeline"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hm,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 2147483647 AS h
  FROM documents
),
img AS (
  SELECT 'image_feature' AS kind, media_id,
         CAST(unnest(range(0, 8)) AS INTEGER) AS idx, h
  FROM m
),
vid AS (
  SELECT 'video_frame' AS kind, media_id,
         CAST(unnest(range(0, CAST(hm % 300 + 1 AS INTEGER), 30)) AS INTEGER) AS idx, h
  FROM m
  WHERE hm % 3 = 2  -- element_at(array[image,audio,video], h%3+1) = 'video'
),
aud AS (
  -- audio windows: total = n_frames*160 samples, win 400 / hop 160;
  -- n_win = (total-400)//160 + 1 when total >= 400 (range() is empty
  -- for n_win <= 0, matching the Spark-side n_win > 0 filter)
  SELECT 'audio_window' AS kind, media_id,
         CAST(unnest(range(0,
           CAST(((hm % 300 + 1) * 160 - 400) // 160 + 1 AS INTEGER))) AS INTEGER) AS idx,
         h
  FROM m
  WHERE hm % 3 = 1 AND (hm % 300 + 1) * 160 >= 400
)
SELECT kind, media_id, idx,
       CAST((h * (2 * idx + 3)) % 2147483647 AS DOUBLE) AS value
FROM img
UNION ALL
SELECT kind, media_id, idx,
       CAST((((h + idx * 2654435761) % 2147483647) * 3) % 2147483647 AS DOUBLE) AS value
FROM vid
UNION ALL
SELECT kind, media_id, idx,
       CAST((((h + idx * 2654435761) % 2147483647) * 3) % 2147483647 AS DOUBLE) AS value
FROM aud
"""

    # Brute-force dHash near-dup: same md5-seeded fake decode as the
    # multimodal_pipeline oracle; dhash bit d = f[d+1] > f[d] packed
    # MSB-first by an exact BIGINT fold (the CAST keeps list_reduce out
    # of INT32 overflow).  Cross-pair scan is the oracle's job only —
    # the Spark side goes through the banded equi-join, which the
    # pigeonhole argument makes lossless at max_hamming = 4.
    o["multimodal_image_neardup"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 2147483647 AS h
  FROM documents
), s AS (
  SELECT media_id,
         list_reduce(
           list_transform(range(1, 64), d ->
             CAST(CASE WHEN (h * (2*d + 3)) % 2147483647
                            > (h * (2*d + 1)) % 2147483647
                  THEN 1 ELSE 0 END AS BIGINT)),
           (acc, b) -> acc * 2 + b) AS dhash
  FROM m
)
SELECT a.media_id AS media_a, b.media_id AS media_b,
       bit_count(xor(a.dhash, b.dhash)) AS hamming
FROM s a JOIN s b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
"""

    # Audio twin: fake feature stream is salted (h + 7*2654435761) % P,
    # then the identical dHash packing and brute-force hamming scan.
    # Same md5-mod-P fake features, same left-fold sum / sum-of-squares
    # in index order (bit-identical doubles), same flag thresholds.
    o["multimodal_image_stats"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hm,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 2147483647 AS h
  FROM documents
), img AS (
  SELECT media_id,
         list_transform(range(0, 64),
            d -> CAST((h * (2*d + 3)) % 2147483647 AS DOUBLE)) AS f
  FROM m WHERE hm % 3 = 0  -- element_at(array[image,audio,video], h%3+1)
), s AS (
  SELECT media_id, len(f) AS n_features,
         list_reduce(f, (a, b) -> a + b) AS s1,
         list_reduce(list_transform(f, x -> x*x), (a, b) -> a + b) AS s2,
         list_min(f) AS mn, list_max(f) AS mx
  FROM img
)
SELECT media_id, CAST(n_features AS INTEGER) AS n_features,
       round(s1 / n_features, 4) AS lum_mean,
       round(sqrt(greatest(
         s2 / n_features - (s1 / n_features) * (s1 / n_features), 0.0)), 4)
         AS lum_std,
       mn AS lum_min, mx AS lum_max, mx - mn AS dyn_range,
       sqrt(greatest(
         s2 / n_features - (s1 / n_features) * (s1 / n_features), 0.0))
         < 0.05 * 2147483647 AS low_contrast,
       mx = mn AS flat
FROM s
"""

    o["multimodal_audio_neardup"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         (CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 2147483647
          + 7 * 2654435761) % 2147483647 AS h
  FROM documents
), s AS (
  SELECT media_id,
         list_reduce(
           list_transform(range(1, 64), d ->
             CAST(CASE WHEN (h * (2*d + 3)) % 2147483647
                            > (h * (2*d + 1)) % 2147483647
                  THEN 1 ELSE 0 END AS BIGINT)),
           (acc, b) -> acc * 2 + b) AS dhash
  FROM m
)
SELECT a.media_id AS media_a, b.media_id AS media_b,
       bit_count(xor(a.dhash, b.dhash)) AS hamming
FROM s a JOIN s b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
"""

    o["stream_sessionize"] = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
"""

    # Native-session-window twin: same gap-islands construction, but a
    # break requires diff STRICTLY > gap (Spark merges adjacent session
    # windows — an event exactly gap later still merges) and session_end
    # is last event + gap (the native window's end bound).
    o["stream_session_window"] = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
"""

    # Same sessionization, minus the session ordinal (the stateful
    # operator's output schema carries no session_id; n_events is INT32
    # to match _SESSION_SCHEMA).
    o["stream_sessionize_stateful"] = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS INT) AS n_events
FROM s GROUP BY user_id, session_id
"""

    # JSONL round-trip must recover the documents table exactly (the
    # planted corrupt line is quarantined, not silently absorbed).
    o["source_jsonl_roundtrip"] = """
SELECT doc_id, text, lang, source FROM documents
"""

    # WET round-trip recovers every document byte-for-byte; the declared
    # Content-Length is UTF-8 octets (DuckDB strlen = bytes, length =
    # characters).
    o["source_wet_roundtrip"] = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS content_length, text
FROM documents
"""

    # Two WET dumps (the second a duplicate crawl under +1e6 ids) deduped
    # back down to one record per distinct text, lowest id wins.
    o["stream_wet_ingest"] = """
SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text
"""

    # Raw-WARC round-trip: escape-on-write + entity-decode-on-read is an
    # identity, the script subtree is dropped, and the documents table
    # has no markup/multi-space/newline content — so extraction recovers
    # the text byte-for-byte and the oracle is the table itself.
    o["source_warc_roundtrip"] = """
SELECT doc_id, CAST(200 AS INTEGER) AS http_status, text FROM documents
"""

    o["stream_warc_ingest"] = """
SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text
"""

    # Snapshot-table round-trip: overwrite(evens) + append(odds) = the
    # whole table, each row exactly once.
    o["source_snapshot_roundtrip"] = """
SELECT doc_id, lang, text FROM documents
"""

    # Rollback to v0 restores exactly the even documents, regardless of
    # the append + range-delete that followed.
    o["source_snapshot_rollback"] = """
SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0
"""

    # The optimize rewrite preserves content row-for-row.
    o["source_snapshot_optimize"] = """
SELECT doc_id, lang, n_chars FROM documents
"""

    # Copy-on-write MERGE semantics: same-key rows replaced (price
    # doubled for % 97 keys), unmatched update keys inserted (% 101
    # keys shifted by +1e8); every other base row untouched.
    o["source_snapshot_merge"] = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice
FROM orders
UNION ALL
SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 101 = 0
"""

    # Merge-on-read delete semantics: survivors = keys not deleted
    # (% 13 != 0) plus the re-crawled generation (% 26 == 0, doubled
    # price) that postdates the delete; the 'mor' and 'materialized'
    # reads must BOTH equal it.
    o["source_snapshot_delete_keys"] = """
WITH survivors AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderkey % 26 = 0
)
SELECT 'mor' AS state, * FROM survivors
UNION ALL
SELECT 'materialized' AS state, * FROM survivors
"""

    # Takedown survivors: neither batch deleted the key, plus the
    # re-crawl generation appended AFTER both deletes.
    o["stream_snapshot_takedown"] = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
FROM orders WHERE o_orderkey % 14 = 0
"""

    # CDC semantics: changes since v0 = exactly the two appended thirds.
    o["source_snapshot_changes"] = """
SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 <> 0
"""

    # Incremental fold across three appends == one-shot GROUP BY.
    o["pipeline_snapshot_incr_agg"] = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(text)) AS BIGINT) AS chars
FROM documents GROUP BY lang
"""

    # Schema evolution: old (even) rows null-fill the added column.
    o["source_snapshot_evolution"] = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 2 = 1 THEN CAST(length(text) AS INTEGER) END AS chars
FROM documents
"""

    # Boilerplate chrome (nav/footer, all link-dense) dropped; the one
    # zero-link body block survives and reassembles to the exact text.
    o["web_boilerplate_extract"] = """
SELECT doc_id, text FROM documents
"""

    # Every doc_id % 5 == 0 url sits under the blocked domain; the rest
    # survive with their synthesized example.com urls.
    # Same synthesized URLs, same priority-desc-then-url order per
    # host, same 0.5 s slot arithmetic and 100-per-host budget.
    o["web_frontier_schedule"] = """
WITH u AS (
  SELECT 'http://' || source || CAST(doc_id % 7 AS VARCHAR)
           || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS url,
         source || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
         n_chars AS priority
  FROM documents
), r AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host
                                 ORDER BY priority DESC, url ASC)
              AS INTEGER) AS rank_in_host
  FROM u
)
SELECT url, host, rank_in_host,
       round((rank_in_host - 1) * 0.5, 4) AS fetch_at_s
FROM r WHERE rank_in_host <= 100
"""

    o["web_domain_filter"] = """
SELECT doc_id,
       'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS url
FROM documents WHERE doc_id % 5 <> 0
"""

    # Replace-then-split sentence rule replayed verbatim; parallel
    # unnest(range(len)) numbers the parts like posexplode (no empties
    # arise from this construction: no leading/trailing/adjacent
    # separators exist after the literal replace).
    o["dedup_sentences_global"] = """
WITH s AS (
  SELECT doc_id,
         string_split(regexp_replace(replace(text, ' the ', '. The '),
                      '([.!?]+)\\s+', '\\1' || chr(30), 'g'), chr(30)) AS parts
  FROM documents
), e AS (
  SELECT doc_id,
         CAST(unnest(range(len(parts))) AS INT) AS sent_idx,
         unnest(list_transform(parts, x -> trim(x))) AS sentence
  FROM s
), r AS (
  SELECT doc_id, sent_idx, sentence,
         row_number() OVER (PARTITION BY sentence ORDER BY doc_id, sent_idx) AS rn
  FROM e
)
SELECT doc_id, string_agg(sentence, chr(10) ORDER BY sent_idx) AS text
FROM r WHERE rn = 1 GROUP BY doc_id
"""

    o["text_split_sentences"] = """
WITH s AS (
  SELECT doc_id,
         string_split(regexp_replace(replace(text, ' the ', '. The '),
                      '([.!?]+)\\s+', '\\1' || chr(30), 'g'), chr(30)) AS parts
  FROM documents
)
SELECT doc_id,
       CAST(unnest(range(len(parts))) AS INT) AS sent_idx,
       unnest(list_transform(parts, x -> trim(x))) AS sentence
FROM s
"""

    o["rel_pivot_daily_events"] = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY 1
"""

    o["rel_window_analytics"] = """
SELECT o_custkey, o_orderkey,
       ROUND(CAST(coalesce(lag(CAST(o_totalprice AS DECIMAL(18,6)))
             OVER w, 0) AS DOUBLE), 2) AS prev_price,
       ROUND(CAST(coalesce(lead(CAST(o_totalprice AS DECIMAL(18,6)))
             OVER w, 0) AS DOUBLE), 2) AS next_price,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

    o["rel_correlated_subquery"] = """
SELECT c.c_custkey, c.c_name,
       (SELECT ROUND(MAX(o.o_totalprice), 2) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS max_order_price
FROM customer c
WHERE (SELECT COUNT(*) FROM orders o
       WHERE o.o_custkey = c.c_custkey) >= 20
"""

    # Backward as-of join: DuckDB's native ASOF LEFT JOIN (right side
    # deduped to one row per (user, ts), matching the Spark query).
    o["join_asof"] = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.purchase_id, p.user_id, p.ts, v.ts AS right_ts, v.view_id AS right_view_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
"""

    o["join_asof_forward"] = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.purchase_id, p.user_id, p.ts, v.ts AS right_ts, v.view_id AS right_view_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
"""

    # Point-in-interval join: the binned equi-join must equal the naive
    # theta join.
    o["join_range"] = """
SELECT o.o_orderkey, o.o_orderkey % 10000 AS p, s.s_suppkey,
       s.s_suppkey * 100 AS lo, s.s_suppkey * 100 + 150 AS hi
FROM orders o
JOIN supplier s
  ON s.s_suppkey * 100 <= o.o_orderkey % 10000
 AND o.o_orderkey % 10000 < s.s_suppkey * 100 + 150
"""

    # Spark F.percentile and DuckDB quantile_cont share the standard
    # rank = q*(n-1) linear interpolation; round 1e-2 on both sides.
    o["stats_group_quantiles"] = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.25), 2) AS q0_25,
       ROUND(quantile_cont(o_totalprice, 0.5),  2) AS q0_5,
       ROUND(quantile_cont(o_totalprice, 0.75), 2) AS q0_75
FROM orders GROUP BY o_orderpriority
"""

    # Long-format Pearson matrix, pairs in lexicographic a < b order.
    o["stats_corr_matrix"] = """
SELECT col_a, col_b, ROUND(c, 6) AS corr FROM (
  SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
         corr(l_discount, l_extendedprice) AS c FROM lineitem
  UNION ALL SELECT 'l_discount', 'l_quantity', corr(l_discount, l_quantity) FROM lineitem
  UNION ALL SELECT 'l_discount', 'l_tax', corr(l_discount, l_tax) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', 'l_quantity', corr(l_extendedprice, l_quantity) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', 'l_tax', corr(l_extendedprice, l_tax) FROM lineitem
  UNION ALL SELECT 'l_quantity', 'l_tax', corr(l_quantity, l_tax) FROM lineitem
)
"""

    o["stats_frequent_items"] = """
WITH c AS (
  SELECT event_type, user_id AS value, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, user_id
),
r AS (
  SELECT event_type, value, cnt,
         row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, value) AS rn
  FROM c
)
SELECT event_type, value, cnt, CAST(rn AS INT) AS rank FROM r WHERE rn <= 5
"""

    _bucket_src = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    o["sample_stratified"] = f"""
SELECT doc_id, lang, source FROM documents
WHERE {_bucket_src} < CASE source WHEN 'src1' THEN 100 WHEN 'src2' THEN 50
                                  WHEN 'src3' THEN 10 ELSE 25 END
"""

    # Distinct 5-gram shingles of every doc; benchmark = docs with
    # doc_id % 97 == 3 (twin of operators.dedup.shingles at n=5).
    _sql_sh5 = f"""
toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 3),
                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM toks WHERE len(t) >= 5
),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 3)
"""

    o["dedup_contamination"] = f"""
WITH {_sql_sh5}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_ngrams
FROM sh WHERE shingle IN (SELECT shingle FROM bsh)
GROUP BY doc_id
"""

    o["dedup_decontaminate"] = f"""
WITH {_sql_sh5},
hits AS (SELECT DISTINCT doc_id FROM sh WHERE shingle IN (SELECT shingle FROM bsh))
SELECT doc_id, text FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM hits)
"""

    # Filter-stack audit twin: per-rule rejects, sole rejects, survivors.
    o["curation_filters"] = """
WITH f AS (
  SELECT coalesce(n_chars >= 200, false) AS f0,
         coalesce(lang = 'en', false) AS f1,
         coalesce(regexp_matches(text, '[a-z]'), false) AS f2
  FROM documents
)
SELECT 'min_chars' AS rule,
       CAST(sum(CASE WHEN NOT f0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
       CAST(sum(CASE WHEN NOT f0 AND f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected_solely
FROM f
UNION ALL
SELECT 'english',
       CAST(sum(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN NOT f1 AND f0 AND f2 THEN 1 ELSE 0 END) AS BIGINT)
FROM f
UNION ALL
SELECT 'has_alpha',
       CAST(sum(CASE WHEN NOT f2 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN NOT f2 AND f0 AND f1 THEN 1 ELSE 0 END) AS BIGINT)
FROM f
UNION ALL
SELECT '__kept__',
       CAST(sum(CASE WHEN f0 AND f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(0 AS BIGINT)
FROM f
"""

    # Fixed-weight sigmoid scoring (w = [-3.0, 0.01] over n_chars).
    o["classify_score"] = """
SELECT doc_id, ROUND(1.0 / (1.0 + exp(-(-3.0 + 0.01 * n_chars))), 6) AS score
FROM documents
"""

    # Same pinned scores, same 10 equal-width bins, same ECE terms.
    o["classify_calibration"] = """
WITH s AS (
  SELECT ROUND(1.0/(1.0 + exp(-(-3.0 + 0.01*n_chars))), 6) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), per AS (
  SELECT CAST(least(floor(score*10), 9) AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         avg(score) AS conf, avg(CAST(y AS DOUBLE)) AS acc
  FROM s WHERE score BETWEEN 0 AND 1 GROUP BY 1
), tot AS (SELECT sum(n) AS nt FROM per)
SELECT bin, n, round(conf, 6) AS confidence, round(acc, 6) AS accuracy,
       round(abs(acc - conf), 6) AS gap,
       round(n / CAST(nt AS DOUBLE), 6) AS weight
FROM per, tot
"""

    # Same (score DESC, doc_id ASC) ntile order, same lift arithmetic.
    o["classify_lift"] = """
WITH s AS (
  SELECT doc_id, ROUND(1.0/(1.0 + exp(-(-3.0 + 0.01*n_chars))), 6) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), r AS (
  SELECT *, ntile(10) OVER (ORDER BY score DESC, doc_id ASC) AS b FROM s
), per AS (
  SELECT b AS bucket, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS DOUBLE)) AS np
  FROM r GROUP BY b
), tot AS (SELECT sum(n) AS nt, sum(np) AS pt FROM per)
SELECT bucket, n, round(np, 6) AS n_pos, round(np / n, 6) AS rate,
       round((np / n) / (pt / CAST(nt AS DOUBLE)), 6) AS lift,
       round(sum(np) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) / pt, 6)
         AS cum_gain
FROM per, tot
"""

    # Add-0.5-smoothed bigram LM perplexity, trained on the corpus itself.
    o["text_lm_score"] = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
uni AS (
  SELECT a, CAST(count(*) AS BIGINT) AS c_a
  FROM (SELECT unnest(t) AS a FROM toks) GROUP BY a
),
v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uni),
bg AS (
  SELECT doc_id, s.a AS a, s.b AS b FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(a := t[i], b := t[i+1]))) AS s
    FROM toks WHERE len(t) >= 2
  )
),
bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       ROUND(avg(ln((coalesce(c_ab, 0) + 0.5) / (coalesce(c_a, 0) + 0.5 * vocab))), 6) AS avg_logp,
       ROUND(exp(-avg(ln((coalesce(c_ab, 0) + 0.5) / (coalesce(c_a, 0) + 0.5 * vocab)))), 6) AS perplexity
FROM bg
LEFT JOIN bi USING (a, b)
LEFT JOIN uni USING (a)
CROSS JOIN v
GROUP BY bg.doc_id
"""

    # CCNet-style perplexity bucketing: the lm_score CTEs + exact
    # interpolated decile cut points (quantile_cont == Spark percentile;
    # cuts round to 4 decimals so boundaries are engine-exact).
    o["curation_ppl_buckets"] = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
uni AS (
  SELECT a, CAST(count(*) AS BIGINT) AS c_a
  FROM (SELECT unnest(t) AS a FROM toks) GROUP BY a
),
v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uni),
bg AS (
  SELECT doc_id, s.a AS a, s.b AS b FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(a := t[i], b := t[i+1]))) AS s
    FROM toks WHERE len(t) >= 2
  )
),
bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
scored AS (
  SELECT bg.doc_id,
         ROUND(exp(-avg(ln((coalesce(c_ab, 0) + 0.5) / (coalesce(c_a, 0) + 0.5 * vocab)))), 6) AS perplexity
  FROM bg
  LEFT JOIN bi USING (a, b)
  LEFT JOIN uni USING (a)
  CROSS JOIN v
  GROUP BY bg.doc_id
),
cuts AS (
  SELECT list_transform(
           quantile_cont(perplexity, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
           x -> round(x, 4)) AS cs
  FROM scored
)
SELECT doc_id, perplexity,
       CAST(1 + len(list_filter(cs, c -> perplexity > c)) AS INTEGER) AS ppl_bucket
FROM scored, cuts
"""

    # Planted-boilerplate paragraph dedup: split on blank line, keep first
    # occurrence in order, rejoin.
    o["text_dedup_paragraphs"] = """
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || chr(10)||chr(10) || text || chr(10)||chr(10) || text
              ELSE text || chr(10)||chr(10) || 'unique tail' END AS text
  FROM documents
),
rows_ AS (
  SELECT doc_id, s.i AS i, s.p AS p FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(l) + 1),
                                 i -> struct_pack(i := i, p := l[i]))) AS s
    FROM (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS l FROM src)
  )
),
firsts AS (SELECT doc_id, p, min(i) AS fi FROM rows_ GROUP BY doc_id, p),
agg AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_paragraphs,
         CAST(count(*) - count(DISTINCT p) AS INT) AS n_dropped
  FROM rows_ GROUP BY doc_id
),
ded AS (
  SELECT doc_id, string_agg(p, chr(10)||chr(10) ORDER BY fi) AS text
  FROM firsts GROUP BY doc_id
)
SELECT a.doc_id, d.text, a.n_paragraphs, a.n_dropped
FROM agg a JOIN ded d USING (doc_id)
"""

    # Winnowing (k=4, w=5): same per-token md5 rolling hash, Horner mod
    # 2^31-1, window minima — selected SET is order-independent, so the
    # distinct/min/checksum summary hash-matches exactly.
    _P = 2_147_483_647
    _tok_h = f"CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {_P}"
    o["text_winnow"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
h AS (
  SELECT doc_id, list_transform(toks, s -> {_tok_h}) AS th FROM t
),
g AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(len(th) - 3, 0) + 1),
             i -> ((((th[i] * 131 + th[i+1]) % {_P}) * 131 + th[i+2]) % {_P} * 131 + th[i+3]) % {_P}) AS grams
  FROM h
),
sel AS (
  SELECT doc_id, CAST(len(grams) AS INT) AS n_kgrams,
         list_distinct(list_transform(range(1, GREATEST(len(grams) - 4, 0) + 1),
             j -> list_min(grams[j:j+4]))) AS s
  FROM g
)
SELECT doc_id, n_kgrams, CAST(len(s) AS INT) AS n_winnow,
       CAST(coalesce(list_min(s), 0) AS BIGINT) AS winnow_min,
       CAST(coalesce(list_sum(list_transform(s, x -> x % 1000003)), 0) AS BIGINT) AS winnow_checksum
FROM sel
"""

    # MOSS copy-detection pairs over the same winnow selection, on the
    # planted-duplicate corpus (df guard 1000, min 2 shared hashes).
    o["text_winnow_pairs"] = f"""
WITH {_SQL_DOCS_DUP},
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM docs),
h AS (
  SELECT doc_id, list_transform(toks, s -> {_tok_h}) AS th FROM t
),
g AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(len(th) - 3, 0) + 1),
             i -> ((((th[i] * 131 + th[i+1]) % {_P}) * 131 + th[i+2]) % {_P} * 131 + th[i+3]) % {_P}) AS grams
  FROM h
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, GREATEST(len(grams) - 4, 0) + 1),
             j -> list_min(grams[j:j+4]))) AS s
  FROM g
),
h2 AS (SELECT doc_id, unnest(s) AS wh FROM sel),
hdf AS (SELECT wh, count(*) AS c FROM h2 GROUP BY wh),
hf AS (SELECT doc_id, wh FROM h2 JOIN hdf USING (wh) WHERE c BETWEEN 2 AND 1000)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM hf a JOIN hf b ON a.wh = b.wh AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""

    # PII redaction twin: each class counted on the text AFTER the
    # previous classes' replacements (EMAIL → IPV4 → PHONE, same as
    # PII_PATTERNS), so counts equal the tags actually inserted.
    _re_email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _re_ipv4 = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    _re_phone = "\\+[0-9][0-9()\\-. ]{6,}[0-9]"
    o["text_redact_pii"] = f"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@example.org or 10.1.2.3 tel +1 555-000-1234'
              ELSE text END AS text
  FROM documents
),
e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_re_email}')) AS INT) AS n_email,
         regexp_replace(text, '{_re_email}', '<EMAIL>', 'g') AS t
  FROM src
),
i AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t, '{_re_ipv4}')) AS INT) AS n_ipv4,
         regexp_replace(t, '{_re_ipv4}', '<IPV4>', 'g') AS t
  FROM e
)
SELECT doc_id,
       regexp_replace(t, '{_re_phone}', '<PHONE>', 'g') AS text,
       n_email, n_ipv4,
       CAST(len(regexp_extract_all(t, '{_re_phone}')) AS INT) AS n_phone
FROM i
"""

    # Priority-aware exact dedup: highest doc_id per exact-text group.
    o["dedup_keep_best"] = f"""
WITH {_SQL_DOCS_DUP},
r AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id DESC) AS rn
  FROM docs
)
SELECT doc_id, text FROM r WHERE rn = 1
"""

    # Sub-document exact span dedup: first occurrence of each 10-token span.
    o["dedup_spans"] = f"""
WITH {_SQL_DOCS_DUP},
base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM docs
  WHERE len({_SQL_TOKS}) >= 1
),
sp AS (
  SELECT doc_id, i - 1 AS span_idx,
         array_to_string(toks[(i-1)*10+1 : (i-1)*10+10], ' ') AS span
  FROM (
    SELECT doc_id, toks,
           unnest(range(1, CAST(ceil(len(toks) / 10.0) AS INT) + 1)) AS i
    FROM base
  )
),
d AS (
  SELECT doc_id, span_idx, span,
         row_number() OVER (PARTITION BY md5(span)
                            ORDER BY doc_id, span_idx) AS rn
  FROM sp
),
tot AS (SELECT doc_id, count(*) AS n_spans FROM d GROUP BY doc_id),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(span, ' ' ORDER BY span_idx)) AS dedup_digest
  FROM d WHERE rn = 1 GROUP BY doc_id
)
SELECT tot.doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(dedup_digest, md5('')) AS dedup_digest
FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
"""

    # Same doubling digest ladder, losers, and maximal filter; see
    # _ladder_oracle_sql.
    o["dedup_longest_spans"] = _ladder_oracle_sql(k=10, doublings=4)

    # Count-Min rollup merged over a day range, probed per distinct user.
    o["stats_cms_range"] = """
WITH days AS (SELECT unnest(range(0, 4)) AS d),
sk AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, days.d AS d,
         CAST(('0x' || substr(md5(CAST(days.d AS VARCHAR) || ':' ||
               CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket,
         count(*) AS c
  FROM events, days GROUP BY 1, 2, 3
),
merged AS (
  SELECT d, bucket, sum(c) AS c FROM sk
  WHERE day >= '2024-01-08' AND day <= '2024-01-22' GROUP BY d, bucket
),
probes AS (
  SELECT u.key, days.d AS d,
         CAST(('0x' || substr(md5(CAST(days.d AS VARCHAR) || ':' ||
               CAST(u.key AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket
  FROM (SELECT DISTINCT user_id AS key FROM events) u, days
)
SELECT key, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
FROM probes LEFT JOIN merged USING (d, bucket) GROUP BY key
"""

    # Nearest pinned centroid (embeddings of vec_id 0..7), L2 distance.
    o["ml_kmeans_assign"] = """
WITH c AS (SELECT vec_id AS cl, embedding AS ce FROM embeddings WHERE vec_id < 8),
d AS (
  SELECT e.vec_id, c.cl,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) ^ 2)) AS d2
  FROM embeddings e CROSS JOIN c
),
r AS (
  SELECT vec_id, cl, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
  FROM d
)
SELECT vec_id, CAST(cl AS INT) AS cluster, ROUND(sqrt(d2), 6) AS dist
FROM r WHERE rn = 1
"""

    # ---- round-3 extension oracles -------------------------------------

    # BM25 twin: constants are interpolated via repr() from the SAME
    # python floats the Spark expressions use, and every corpus stat
    # (N, avgdl, df) comes from exact integer sums — both engines run
    # identical double arithmetic, so round(6) hash-matches.
    _bm_terms = ["join", "table", "group", "vector"]
    _bm_k1, _bm_b = 1.2, 0.75
    _bm_k1p1, _bm_omb = repr(_bm_k1 + 1.0), repr(1.0 - _bm_b)
    _bm_tf = ",\n       ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_bm_terms)
    )
    _bm_df = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(_bm_terms))
    )
    _bm_score = " + ".join(
        f"ln(1.0 + (n - df_{i} + 0.5) / (df_{i} + 0.5)) * CAST(tf_{i} AS DOUBLE)"
        f" * {_bm_k1p1} / (CAST(tf_{i} AS DOUBLE) + {_bm_k1!r} * ({_bm_omb}"
        f" + {_bm_b!r} * dl / avgdl))"
        for i in range(len(_bm_terms))
    )
    _bm_hits = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_bm_terms))
    )
    o["text_bm25"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
       {_bm_tf}
  FROM t
),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, {_bm_df} FROM base)
SELECT doc_id, ROUND({_bm_score}, 6) AS bm25,
       CAST({_bm_hits} AS INT) AS n_matched
FROM base CROSS JOIN s
"""

    # RRF twin: the SAME BM25 fragments as text_bm25 plus a token-set
    # Jaccard ranker, fused in rank space with doc-id tie-breaks.
    o["text_rrf_fusion"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
       {_bm_tf}
  FROM t
),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, {_bm_df} FROM base),
bm AS (
  SELECT doc_id, {_bm_score} AS score FROM base CROSS JOIN s
),
jac AS (
  SELECT doc_id,
         len(list_intersect(toks, ['join','table','group','vector']))
           / CAST(len(list_distinct(list_concat(toks,
               ['join','table','group','vector']))) AS DOUBLE) AS score
  FROM t
),
u AS (
  SELECT 'bm25' AS system, doc_id, score FROM bm
  UNION ALL
  SELECT 'jaccard' AS system, doc_id, score FROM jac
),
ranked AS (
  SELECT system, doc_id,
         row_number() OVER (PARTITION BY system
                            ORDER BY score DESC, doc_id) AS rnk
  FROM u
),
fused AS (
  SELECT doc_id, sum(1.0/(60.0 + rnk)) AS rrf,
         CAST(count(*) AS BIGINT) AS n_systems
  FROM ranked GROUP BY doc_id
)
SELECT doc_id, round(rrf, 6) AS rrf, n_systems
FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
"""

    _prof_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    o["stats_profile_columns"] = "\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       ROUND(CAST(min({c}) AS DOUBLE), 6) AS min_val,
       ROUND(CAST(max({c}) AS DOUBLE), 6) AS max_val,
       ROUND(CAST(sum(CAST({c} AS DECIMAL(28,6))) AS DOUBLE)
             / (count(*) - sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)), 6)
         AS mean_val
FROM lineitem"""
        for c in _prof_cols
    )

    o["stats_rolling_daily"] = """
WITH d AS (
  SELECT user_id AS key, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_day
  FROM events GROUP BY 1, 2
)
SELECT key, CAST(day AS VARCHAR) AS day, n_day,
       CAST(sum(n_day) OVER (PARTITION BY key
                             ORDER BY datediff('day', DATE '1970-01-01', day)
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_trailing
FROM d
"""

    # PageRank twin: the 3 power iterations unrolled as chained CTEs;
    # damping constants interpolated via repr() from the same python
    # floats the Spark operator computes with.
    _pr_d, _pr_num = repr(0.85), repr(1.0 - 0.85)
    _pr = """
WITH e AS (
  SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
  FROM orders WHERE o_custkey % 100 != o_orderkey % 100
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes CROSS JOIN n)"""
    for _it in range(1, 4):
        _pr += f""",
r{_it} AS (
  SELECT nd.node,
         {_pr_num} / n.n + {_pr_d} * coalesce(c.s, 0.0) AS rank
  FROM nodes nd CROSS JOIN n
  LEFT JOIN (SELECT e.dst, sum(r{_it - 1}.rank / o.outdeg) AS s
             FROM e JOIN r{_it - 1} ON r{_it - 1}.node = e.src
             JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst) c ON c.dst = nd.node
)"""
    _pr += "\nSELECT node, ROUND(rank, 6) AS rank FROM r3"
    o["graph_pagerank"] = _pr

    # Two unrolled synchronous LPA rounds: same symmetrized edges,
    # same count-desc/label-asc tie-break.
    _lpa_round = """
, l{next} AS (
  SELECT node, label FROM (
    SELECT e.a AS node, l.label, count(*) AS c,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM und e JOIN l{prev} l ON l.node = e.b GROUP BY e.a, l.label
  ) WHERE rn = 1
)"""
    _lpa = """
WITH half AS (
  SELECT o_custkey % 200 AS a,
         (o_custkey % 200) - (o_custkey % 200) % 10 + o_orderkey % 10 AS b
  FROM orders
  WHERE o_custkey % 200
        != (o_custkey % 200) - (o_custkey % 200) % 10 + o_orderkey % 10
), und AS (
  SELECT DISTINCT a, b
  FROM (SELECT a, b FROM half UNION ALL SELECT b, a FROM half)
), l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM und
)"""
    for _j in range(2):
        _lpa += _lpa_round.format(prev=_j, next=_j + 1)
    _lpa += "\nSELECT node, label FROM l2"
    o["graph_lpa"] = _lpa

    # Same degree-capped wedge enumeration, same total order at the cut.
    o["graph_link_prediction"] = """
WITH raw AS (
  SELECT o_custkey % 400 AS s, o_orderkey % 400 AS t FROM orders
), e AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM raw WHERE s <> t
), nbrs AS (
  SELECT a AS n, b AS m FROM e UNION ALL SELECT b AS n, a AS m FROM e
), deg AS (SELECT n, count(*) AS d FROM nbrs GROUP BY n),
centered AS (
  SELECT nbrs.n AS w, nbrs.m AS m, deg.d AS d
  FROM nbrs JOIN deg USING (n) WHERE deg.d <= 1000
), cand AS (
  SELECT l.m AS u, r.m AS v, count(*) AS cn,
         sum(1.0 / ln(CAST(l.d AS DOUBLE))) AS aa
  FROM centered l JOIN centered r ON l.w = r.w
  WHERE l.m < r.m
  GROUP BY 1, 2
), nonadj AS (
  SELECT cand.* FROM cand
  ANTI JOIN e ON cand.u = e.a AND cand.v = e.b
)
SELECT u, v, CAST(cn AS BIGINT) AS cn,
       round(cn / CAST(du.d + dv.d - cn AS DOUBLE), 6) AS jaccard,
       round(aa, 6) AS adamic_adar
FROM nonadj JOIN deg du ON nonadj.u = du.n JOIN deg dv ON nonadj.v = dv.n
ORDER BY cn DESC, u, v LIMIT 100
"""

    # Personalized variant: identical unrolled iterations, restart mass
    # concentrated on seeds {0,1,2} (p = 1/3 there, 0 elsewhere).
    _ppr = """
WITH e AS (
  SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
  FROM orders WHERE o_custkey % 100 != o_orderkey % 100
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
np AS (SELECT node,
              CASE WHEN node IN (0, 1, 2) THEN 1.0 / 3.0 ELSE 0.0 END AS p
       FROM nodes),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, p AS rank FROM np)"""
    for _it in range(1, 4):
        _ppr += f""",
r{_it} AS (
  SELECT np.node,
         {_pr_num} * np.p + {_pr_d} * coalesce(c.s, 0.0) AS rank
  FROM np
  LEFT JOIN (SELECT e.dst, sum(r{_it - 1}.rank / o.outdeg) AS s
             FROM e JOIN r{_it - 1} ON r{_it - 1}.node = e.src
             JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst) c ON c.dst = np.node
)"""
    _ppr += "\nSELECT node, ROUND(rank, 6) AS rank FROM r3"
    o["graph_ppr"] = _ppr

    # CSV round-trip must recover the documents table exactly (the
    # planted malformed row is quarantined, not silently absorbed).
    o["source_csv_roundtrip"] = """
SELECT doc_id, text, lang, source FROM documents
"""

    o["stream_top_users"] = """
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT window_start, user_id, n_events,
         CAST(row_number() OVER (PARTITION BY window_start
                                 ORDER BY n_events DESC, user_id ASC) AS INTEGER) AS rank
  FROM c
)
SELECT window_start, user_id, n_events, rank FROM r WHERE rank <= 3
"""

    o["stats_key_skew"] = """
WITH c AS (
  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt FROM events GROUP BY 1
),
t AS (SELECT sum(cnt) AS total FROM c),
r AS (
  SELECT key, CAST(cnt AS BIGINT) AS cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INTEGER) AS rank
  FROM c
)
SELECT key, cnt, ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share, rank
FROM r CROSS JOIN t WHERE rank <= 10
"""

    o["q7_volume_shipping"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
GROUP BY 1, 2, 3
"""

    o["q10_returned_items"] = """
WITH g AS (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2, 3, 4
  ORDER BY revenue DESC, c_custkey ASC
  LIMIT 20
)
SELECT c_custkey, c_name, ROUND(CAST(c_acctbal AS DOUBLE), 2) AS c_acctbal,
       n_name, CAST(revenue AS DOUBLE) AS revenue
FROM g
"""

    o["stats_zscore_outliers"] = """
WITH src AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 997 = 0 THEN value * 50 + 1000 ELSE value END AS value
  FROM events
),
s AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM src GROUP BY event_type
)
SELECT src.event_type, event_id AS id, CAST(value AS DOUBLE) AS value,
       ROUND((value - mu) / sd, 6) AS z
FROM src JOIN s USING (event_type)
WHERE sd > 0 AND abs((value - mu) / sd) > 3.0
"""

    o["stats_fill_gaps"] = """
WITH d AS (
  SELECT user_id AS key, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_day
  FROM events GROUP BY 1, 2
),
sp AS (SELECT key, min(day) AS d0, max(day) AS d1 FROM d GROUP BY key),
grid AS (
  SELECT key,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM sp
)
SELECT g.key, CAST(g.day AS VARCHAR) AS day, coalesce(d.n_day, 0) AS n_day
FROM grid g LEFT JOIN d ON d.key = g.key AND d.day = g.day
"""

    # Mixture twin: weights are binary-exact (0.5/0.25/0.25, sum exactly
    # 1.0) so python-side normalization is the identity on both engines.
    o["curation_mixture"] = """
WITH ps AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT sum(n_tokens) AS total FROM ps),
sh AS (
  SELECT source, n_tokens,
         n_tokens / t.total AS share,
         CASE source WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25
                     WHEN 'src3' THEN 0.25 ELSE 0.0 END AS target
  FROM ps CROSS JOIN t
),
r AS (SELECT *, target / share AS raw FROM sh),
m AS (SELECT max(raw) AS mx FROM r)
SELECT source, n_tokens, ROUND(share, 6) AS share, ROUND(target, 6) AS target,
       ROUND(CASE WHEN m.mx > 0 THEN raw / m.mx ELSE 0.0 END, 6) AS rate
FROM r CROSS JOIN m
"""

    o["curation_temperature"] = """
WITH ps AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT sum(n_tokens) AS total FROM ps),
s AS (
  SELECT source, n_tokens, n_tokens / t.total AS share,
         power(n_tokens / t.total, 0.5) AS p
  FROM ps CROSS JOIN t
),
z AS (SELECT sum(p) AS z FROM s),
r AS (
  SELECT source, n_tokens, share, p / z.z AS target,
         (p / z.z) / share AS raw
  FROM s CROSS JOIN z
),
m AS (SELECT max(raw) AS mx FROM r)
SELECT source, n_tokens, ROUND(share, 6) AS share, ROUND(target, 6) AS target,
       ROUND(raw / m.mx, 6) AS rate
FROM r CROSS JOIN m
"""

    o["text_lm_score_kn"] = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
v AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab
  FROM (SELECT unnest(t) AS w FROM toks)
),
bg AS (
  SELECT doc_id, s.a AS a, s.b AS b FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(a := t[i], b := t[i+1]))) AS s
    FROM toks WHERE len(t) >= 2
  )
),
bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
ctx AS (
  SELECT a, CAST(sum(c_ab) AS BIGINT) AS ctx_a,
         CAST(count(*) AS BIGINT) AS n1p_a
  FROM bi GROUP BY a
),
cont AS (SELECT b, CAST(count(*) AS BIGINT) AS n1p_b FROM bi GROUP BY b),
nbb AS (SELECT CAST(count(*) AS BIGINT) AS n_bb FROM bi),
p AS (
  SELECT bg.doc_id,
         CASE WHEN coalesce(ctx_a, 0) > 0 THEN
           (GREATEST(coalesce(c_ab, 0) - 0.75, 0.0)
            + 0.75 * n1p_a * ((coalesce(n1p_b, 0) + 1)
                              / CAST(n_bb + vocab AS DOUBLE))) / ctx_a
         ELSE (coalesce(n1p_b, 0) + 1) / CAST(n_bb + vocab AS DOUBLE)
         END AS p_kn
  FROM bg
  LEFT JOIN bi USING (a, b)
  LEFT JOIN ctx USING (a)
  LEFT JOIN cont USING (b)
  CROSS JOIN nbb CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       ROUND(avg(ln(p_kn)), 6) AS avg_logp,
       ROUND(exp(-avg(ln(p_kn))), 6) AS perplexity
FROM p GROUP BY doc_id
"""

    o["text_lm_score_kn3"] = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
v AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab
  FROM (SELECT unnest(t) AS w FROM toks)
),
tg AS (
  SELECT doc_id, s.a AS a, s.b AS b, s.c AS c FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                                 i -> struct_pack(a := t[i], b := t[i+1],
                                                  c := t[i+2]))) AS s
    FROM toks WHERE len(t) >= 3
  )
),
tri AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS c_abc FROM tg GROUP BY 1, 2, 3),
ctx2 AS (
  SELECT a, b, CAST(sum(c_abc) AS BIGINT) AS ctx_ab,
         CAST(count(*) AS BIGINT) AS n1p_ab
  FROM tri GROUP BY a, b
),
midc AS (SELECT b, c, CAST(count(*) AS BIGINT) AS n1bc FROM tri GROUP BY b, c),
midb AS (
  SELECT b, CAST(sum(n1bc) AS BIGINT) AS tot_mid_b,
         CAST(count(*) AS BIGINT) AS n1p_mid_b
  FROM midc GROUP BY b
),
bg AS (
  SELECT s.a AS a, s.b AS b FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(a := t[i], b := t[i+1]))) AS s
    FROM toks WHERE len(t) >= 2
  )
),
bi AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
cont AS (SELECT b AS c, CAST(count(*) AS BIGINT) AS n1p_b FROM bi GROUP BY b),
nbb AS (SELECT CAST(count(*) AS BIGINT) AS n_bb FROM bi),
p AS (
  SELECT tg.doc_id,
         CASE WHEN coalesce(ctx_ab, 0) > 0 THEN
           (GREATEST(coalesce(c_abc, 0) - 0.75, 0.0)
            + 0.75 * n1p_ab *
              CASE WHEN coalesce(tot_mid_b, 0) > 0 THEN
                (GREATEST(coalesce(n1bc, 0) - 0.75, 0.0)
                 + 0.75 * n1p_mid_b * ((coalesce(n1p_b, 0) + 1)
                                       / CAST(n_bb + vocab AS DOUBLE)))
                / tot_mid_b
              ELSE (coalesce(n1p_b, 0) + 1) / CAST(n_bb + vocab AS DOUBLE)
              END) / ctx_ab
         ELSE
           CASE WHEN coalesce(tot_mid_b, 0) > 0 THEN
             (GREATEST(coalesce(n1bc, 0) - 0.75, 0.0)
              + 0.75 * n1p_mid_b * ((coalesce(n1p_b, 0) + 1)
                                    / CAST(n_bb + vocab AS DOUBLE)))
             / tot_mid_b
           ELSE (coalesce(n1p_b, 0) + 1) / CAST(n_bb + vocab AS DOUBLE)
           END
         END AS p_kn
  FROM tg
  LEFT JOIN tri USING (a, b, c)
  LEFT JOIN ctx2 USING (a, b)
  LEFT JOIN midc USING (b, c)
  LEFT JOIN midb USING (b)
  LEFT JOIN cont USING (c)
  CROSS JOIN nbb CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       ROUND(avg(ln(p_kn)), 6) AS avg_logp,
       ROUND(exp(-avg(ln(p_kn))), 6) AS perplexity
FROM p GROUP BY doc_id
"""

    # Hilbert xy→d: the identical 8 rotate/flip levels, generated as
    # chained CTEs by the same loop structure the Spark column uses.
    _h_levels = []
    _h_s = 128
    _h_i = 0
    while _h_s > 0:
        _h_levels.append(
            f"""l{_h_i + 1} AS MATERIALIZED (
  SELECT o_orderkey, x, y,
    CASE WHEN (hy & {_h_s}) = 0
         THEN CASE WHEN (hx & {_h_s}) > 0 THEN 255 - hy ELSE hy END
         ELSE hx END AS hx,
    CASE WHEN (hy & {_h_s}) = 0
         THEN CASE WHEN (hx & {_h_s}) > 0 THEN 255 - hx ELSE hx END
         ELSE hy END AS hy,
    d + {_h_s * _h_s} * CAST(xor(3 * CASE WHEN (hx & {_h_s}) > 0 THEN 1 ELSE 0 END,
                                 CASE WHEN (hy & {_h_s}) > 0 THEN 1 ELSE 0 END)
                             AS BIGINT) AS d
  FROM l{_h_i}
)"""
        )
        _h_s >>= 1
        _h_i += 1
    o["layout_hilbert"] = (
        """
WITH l0 AS (
  SELECT o_orderkey, o_custkey % 256 AS x, o_orderkey % 256 AS y,
         o_custkey % 256 AS hx, o_orderkey % 256 AS hy,
         CAST(0 AS BIGINT) AS d
  FROM orders
),
"""
        + ",\n".join(_h_levels)
        + f"""
SELECT o_orderkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       d AS hvalue
FROM l{_h_i}
"""
    )

    _z_terms = " | ".join(
        f"(((x >> {b}) & 1) << {2 * b}) | (((y >> {b}) & 1) << {2 * b + 1})"
        for b in range(8)
    )
    o["layout_zorder"] = f"""
SELECT o_orderkey, x, y, CAST({_z_terms} AS BIGINT) AS zvalue
FROM (
  SELECT o_orderkey, o_custkey % 256 AS x, o_orderkey % 256 AS y FROM orders
)
"""

    o["layout_compact"] = """
SELECT doc_id, text FROM documents
"""

    o["q4_order_priority"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""

    o["q9_product_profit"] = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       ROUND(CAST(sum(
         CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))
         - CAST(p_retailprice AS DECIMAL(18,6)) * CAST(l_quantity AS DECIMAL(18,6))
           * CAST(0.5 AS DECIMAL(18,6))
       ) AS DOUBLE), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""

    o["q11_important_parts"] = """
WITH rev AS (
  SELECT l_partkey AS p_key,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,6))) AS val
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT sum(val) AS total FROM rev)
SELECT p_key, ROUND(CAST(val AS DOUBLE), 2) AS value
FROM rev, t WHERE val * 10000 > total * 5
"""

    o["q12_priority_by_status"] = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY l_returnflag
"""

    o["q13_customer_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
"""

    o["q15_top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey AS sk,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,6))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(CAST(total_rev AS DOUBLE), 2) AS total_revenue
FROM rev JOIN supplier ON sk = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""

    o["q16_supplier_counts"] = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (5, 10, 15, 20, 25, 30)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

    o["q19_bracket_revenue"] = """
SELECT ROUND(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
         * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(28,6))) AS DOUBLE), 2)
         AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 20 AND 35)
"""

    o["q20_excess_shippers"] = """
WITH lw AS (
  SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(18,6)) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
    AND p_name LIKE '%widget%'
),
per_ps AS (
  SELECT l_partkey, l_suppkey, sum(q) AS qty FROM lw GROUP BY 1, 2
),
per_p AS (SELECT l_partkey AS pk, sum(qty) AS total_qty FROM per_ps GROUP BY 1)
SELECT s_suppkey, s_name, n_parts FROM (
  SELECT l_suppkey, count(*) AS n_parts
  FROM per_ps JOIN per_p ON l_partkey = pk
  WHERE qty * 10 > total_qty * 3
  GROUP BY l_suppkey
) JOIN supplier ON l_suppkey = s_suppkey
"""

    o["q21_waiting_suppliers"] = """
WITH l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_suppkey, s_name, numwait FROM (
  SELECT l1.l_suppkey, count(DISTINCT l1.l_orderkey) AS numwait
  FROM l1
  WHERE EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM l1 l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
  GROUP BY l1.l_suppkey
) JOIN supplier ON l_suppkey = s_suppkey
"""

    o["q22_dormant_customers"] = """
WITH a AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey % 5 AS cntrycode, count(*) AS numcust,
       ROUND(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS totacctbal
FROM customer, a
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '2000-01-01')
GROUP BY 1
"""

    o["curation_dsir"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) % 1000 AS bucket
  FROM tok
),
qr AS (SELECT bucket, count(*) AS c_raw FROM b GROUP BY bucket),
pt AS (
  SELECT bucket, count(*) AS c_tgt
  FROM b JOIN documents d USING (doc_id) WHERE d.lang = 'en'
  GROUP BY bucket
),
nr AS (SELECT sum(c_raw) AS n_raw FROM qr),
nt AS (SELECT sum(c_tgt) AS n_tgt FROM pt),
w AS (
  SELECT qr.bucket,
         ln((coalesce(c_tgt, 0) + 1.0) / (n_tgt + 1000.0))
           - ln((c_raw + 1.0) / (n_raw + 1000.0)) AS lw
  FROM qr LEFT JOIN pt USING (bucket), nr, nt
),
pd AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
       round(sum(c * lw), 6) AS dsir_logweight
FROM pd JOIN w USING (bucket) GROUP BY doc_id
"""

    o["q18_large_orders"] = """
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 200
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       o_totalprice, CAST(sum_qty AS DOUBLE) AS sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""

    o["q6_forecast_revenue"] = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

    o["q14_promo_revenue"] = """
WITH g AS (
  SELECT
    CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_rev,
    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
)
SELECT ROUND(100.0 * promo_rev / total_rev, 6) AS promo_pct,
       ROUND(promo_rev, 2) AS promo_rev, ROUND(total_rev, 2) AS total_rev
FROM g
"""

    o["q8_market_share"] = """
WITH g AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
    CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS nation_rev,
    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  GROUP BY 1
)
SELECT o_year, ROUND(nation_rev / total_rev, 6) AS mkt_share,
       ROUND(total_rev, 2) AS total_rev
FROM g
"""

    o["q17_small_qty_revenue"] = """
WITH avg_q AS (
  SELECT l_partkey AS ak,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2)
         AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_q ON l_partkey = ak
WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
"""

    o["q2_min_cost_supplier"] = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS ps_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey, p.p_name, eu.s_suppkey,
       ROUND(ps.ps_cost, 2) AS supply_cost
FROM ps
JOIN part p ON ps.l_partkey = p.p_partkey
JOIN eu ON ps.l_suppkey = eu.s_suppkey
WHERE p.p_type = 'ECONOMY' AND p.p_size < 15
  AND ps.ps_cost = (SELECT MIN(ps2.ps_cost)
                    FROM ps ps2 JOIN eu eu2 ON ps2.l_suppkey = eu2.s_suppkey
                    WHERE ps2.l_partkey = p.p_partkey)
ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p.p_partkey, eu.s_suppkey
LIMIT 100
"""

    o["join_fuzzy_tables"] = """
SELECT l.c_custkey, l.c_name, r.ref_key, r.ref_name,
       CAST(levenshtein(l.c_name, r.ref_name) AS INTEGER) AS dist
FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 40) l
JOIN (SELECT c_custkey AS ref_key, c_name AS ref_name FROM customer
      WHERE c_custkey < 40 AND c_custkey % 10 < 2) r
  ON levenshtein(l.c_name, r.ref_name) <= 1
"""

    o["join_fuzzy_pairs"] = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       a.s_name AS name_a, b.s_name AS name_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""

    o["stats_histogram"] = """
WITH c AS (
  SELECT CAST(LEAST(floor((o_totalprice - 0.0) / 20000.0), 24) AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice >= 0.0 AND o_totalprice < 500000.0
  GROUP BY 1
),
spine AS (SELECT unnest(range(25)) AS bin)
SELECT CAST(spine.bin AS INTEGER) AS bin,
       0.0 + spine.bin * 20000.0 AS bin_lo,
       0.0 + (spine.bin + 1) * 20000.0 AS bin_hi,
       coalesce(c.n, 0) AS n
FROM spine LEFT JOIN c ON c.bin = spine.bin
"""

    # URL canonicalization twin: the oracle replays the exact rule chain
    # of plda_spark.operators.web.normalize_url_col (RE2-compatible
    # patterns, 'g' where Spark's regexp_replace is global).
    o["web_url_dedup"] = r"""
WITH raw AS (
  SELECT doc_id,
         unnest([
           'HTTP://' || upper(source) || '.Example.COM:80/docs/' ||
             CAST(doc_id AS VARCHAR) || '?utm_source=feed&utm_campaign=x#sec',
           'http://' || lower(source) || '.example.com/docs/' ||
             CAST(doc_id AS VARCHAR)
         ]) AS url
  FROM documents
),
s1 AS (  -- lowercase scheme://authority
  SELECT doc_id,
         lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0))
           || substr(trim(url),
                     length(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1)
           AS u
  FROM raw
),
s2 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM s1),
s3 AS (SELECT doc_id, regexp_replace(u, '^(http://[^/?#:]*):80([/?#].*)?$', '\1\2') AS u FROM s2),
s4 AS (SELECT doc_id, regexp_replace(u, '^(https://[^/?#:]*):443([/?#].*)?$', '\1\2') AS u FROM s3),
s5 AS (SELECT doc_id, regexp_replace(u, '([?&])(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '\1', 'g') AS u FROM s4),
s6 AS (SELECT doc_id, regexp_replace(u, '\?&', '?') AS u FROM s5),
s6b AS (SELECT doc_id, regexp_replace(u, '&&+', '&', 'g') AS u FROM s6),
s7 AS (SELECT doc_id, regexp_replace(u, '[?&]$', '') AS u FROM s6b),
s8 AS (SELECT doc_id, regexp_replace(u, '^([a-z][a-z0-9+.-]*://[^/?#]*)/$', '\1') AS u FROM s7)
SELECT u AS url_norm, CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_id
FROM s8 GROUP BY u HAVING count(*) > 1
"""

    # First-touch funnel twin: t_{k+1} = min ts of step k+1 STRICTLY
    # after t_k (the fold's exact semantic).
    o["events_funnel"] = """
WITH t1 AS (
  SELECT user_id, min(ts) AS ts1 FROM events WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS ts2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY 1
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS ts3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY 1
)
SELECT * FROM (VALUES
  (CAST(0 AS INTEGER), 'view',     (SELECT CAST(count(*) AS BIGINT) FROM t1)),
  (CAST(1 AS INTEGER), 'click',    (SELECT CAST(count(*) AS BIGINT) FROM t2)),
  (CAST(2 AS INTEGER), 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM t3))
) AS v(step_idx, step, n_users)
"""

    o["events_retention"] = """
WITH uw AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
c AS (SELECT u, week, min(week) OVER (PARTITION BY u) AS cohort FROM uw)
SELECT CAST(cohort AS VARCHAR) AS cohort_week,
       CAST((week - cohort) / 7 AS INTEGER) AS weeks_since,
       CAST(count(*) AS BIGINT) AS n_active
FROM c GROUP BY 1, 2
"""

    # EWMA twin: closed form y_i = sum_j w_ij x_j with dyadic weights
    # (alpha = 0.5 over integer counts) — exactly equals the fold.
    o["stats_ewma"] = """
WITH d AS (
  SELECT user_id AS key, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT key, day, v,
         row_number() OVER (PARTITION BY key ORDER BY day) AS rn
  FROM d
)
SELECT a.key, a.day AS ts, a.v AS value,
       ROUND(sum(CASE WHEN b.rn = 1 THEN power(0.5, a.rn - 1)
                      ELSE 0.5 * power(0.5, a.rn - b.rn) END * b.v), 6) AS ewma
FROM r a JOIN r b ON a.key = b.key AND b.rn <= a.rn
GROUP BY a.key, a.day, a.v
"""

    o["curation_calibrate"] = """
SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score,
       ROUND(percent_rank() OVER (PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE)), 6)
         AS calibrated
FROM documents
"""

    o["sample_reservoir"] = """
WITH r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    doc_id
         ) AS INTEGER) AS sample_rank
  FROM documents
)
SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 7
"""

    # Canonical-order closure count: triangle (x<y<z) found exactly once
    # via edges (x,y),(x,z),(y,z) — equals the degree-ordered plan's
    # count (ordering scheme changes cost, never the result).
    o["graph_triangles"] = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS (
  SELECT DISTINCT a.p AS a, b.p AS b
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
"""

    o["stats_mad_outliers"] = """
WITH src AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 997 = 0 THEN value * 50 + 1000 ELSE value END AS value
  FROM events
),
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM src GROUP BY 1
),
dev AS (
  SELECT src.event_type, event_id, value, med, abs(value - med) AS d
  FROM src JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT dev.event_type, event_id AS id, CAST(value AS DOUBLE) AS value,
       ROUND(0.6745 * (value - med) / mad, 6) AS mad_z
FROM dev JOIN mad USING (event_type)
WHERE mad > 0 AND abs(0.6745 * (value - med) / mad) > 3.5
"""

    # End-to-end pipeline twin: filters → md5 keep-first dedup → 5-gram
    # decontamination (benchmark = raw docs ≡ 3 mod 97) → per-source
    # hash-bucket mixture.  Each stage replays its standalone oracle.
    o["curation_pipeline"] = f"""
WITH base AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  WHERE coalesce(n_chars >= 200, false)
    AND coalesce(regexp_matches(text, '[a-z]'), false)
),
dd AS (
  SELECT doc_id, text, lang, source, n_chars FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM base
  ) WHERE rn = 1
),
toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM dd),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 3),
                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM toks WHERE len(t) >= 5
),
btoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents WHERE doc_id % 97 = 3),
bsh AS (
  SELECT DISTINCT unnest(list_transform(range(1, len(t) - 3),
                                        i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM btoks WHERE len(t) >= 5
),
hits AS (SELECT DISTINCT doc_id FROM sh WHERE shingle IN (SELECT shingle FROM bsh)),
clean AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM hits))
SELECT doc_id, source, lang, n_chars FROM clean
WHERE {_bucket} < CASE source WHEN 'src1' THEN 100 WHEN 'src5' THEN 50 ELSE 25 END
"""

    # ---- contract-composite oracles (built from the standalone bodies
    # above so both registries verify the identical semantics) -----------

    o["join_shapes"] = """
SELECT 'left' AS op, CAST(c_custkey AS VARCHAR) AS key,
       CAST(count(o_orderkey) AS BIGINT) AS n,
       coalesce(CAST(max(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS val
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o ON o_custkey = c_custkey
GROUP BY c_custkey
UNION ALL
SELECT 'semi', CAST(c_custkey AS VARCHAR), CAST(1 AS BIGINT), 0.0
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
UNION ALL
SELECT 'anti', CAST(c_custkey AS VARCHAR), CAST(1 AS BIGINT), 0.0
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'salted', p_brand, CAST(count(*) AS BIGINT),
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""

    o["grouping_sets_rollup_cube"] = (
        o["rollup_region_nation_revenue"]
        + """
UNION ALL
SELECT 'gsets' AS op, r_name AS key1, n_name AS key2,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (n_name), ())
"""
    )

    o["text_quality_langid"] = f"""
SELECT * FROM ({o['text_quality']}) q JOIN ({o['text_langid']}) l USING (doc_id)
"""

    o["text_corpus_stats"] = f"""
SELECT 'tfidf' AS kind, CAST(doc_id AS VARCHAR) AS key_a, word AS key_b,
       CAST(0 AS BIGINT) AS cnt, tfidf AS score
FROM ({o['text_tfidf']})
UNION ALL
SELECT 'pmi' AS kind, a AS key_a, b AS key_b, c_ab AS cnt, pmi AS score
FROM ({o['text_collocations']})
"""

    # Shared one-way ANOVA body over a (g, v) source: same per-group
    # moments, same SSB/SSW clamps, same Paulson F-tail z (F^(2/3)
    # spelled f3*f3 to replay Spark's pow-once-then-square), same A&S
    # Φ polynomial (half = pdf*poly — Spark's 2·(pdf·poly)/2 is
    # bit-identical since *2 and /2 are exact in binary FP).
    def _anova_body(src: str) -> str:
        return f"""
WITH per AS (
  SELECT g, count(*) AS ng, sum(v) AS s1, sum(v*v) AS s2
  FROM ({src}) GROUP BY 1
), agg AS (
  SELECT count(*) AS k, sum(ng) AS n, sum(s1) AS ts1,
         sum(s1*s1/ng) AS sb, sum(s2 - s1*s1/ng) AS ssw
  FROM per
), c AS (
  SELECT k, n, CAST(k-1 AS DOUBLE) AS d1, CAST(n-k AS DOUBLE) AS d2,
         greatest(sb - ts1*ts1/n, 0.0) AS ssb, greatest(ssw, 0.0) AS sswc
  FROM agg
), f AS (
  SELECT k, n, d1, d2,
         CASE WHEN d1 > 0 AND d2 > 0 AND sswc > 0
              THEN (ssb/d1)/(sswc/d2) END AS fv
  FROM c
), pz AS (
  SELECT k, n, d1, d2, fv,
         ((1.0 - 2.0/(9.0*d2))*pow(fv, 1.0/3.0) - (1.0 - 2.0/(9.0*d1)))
           / sqrt(2.0/(9.0*d1)
                  + pow(fv, 1.0/3.0)*pow(fv, 1.0/3.0)*2.0/(9.0*d2)) AS z
  FROM f
), ph AS (
  SELECT *, abs(z) AS az, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM pz
), pv AS (
  SELECT *,
    (exp(-az*az/2.0)/2.5066282746310002)
      *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
         + tt*(-1.821255978 + tt*1.330274429))))) AS half
  FROM ph
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       round(coalesce(fv, 0.0), 6) AS f_stat,
       CAST(d1 AS BIGINT) AS df1, CAST(d2 AS BIGINT) AS df2,
       round(CASE WHEN fv IS NULL THEN 1.0
                  ELSE least(greatest(
                    CASE WHEN z >= 0 THEN half ELSE 1.0 - half END,
                    0.0), 1.0) END, 6) AS p_value
FROM pv
"""

    o["stats_anova_f"] = _anova_body(
        "SELECT event_type AS g, CAST(value AS DOUBLE) AS v "
        "FROM events WHERE value IS NOT NULL"
    )

    o["stats_levene_bf"] = _anova_body("""
SELECT c.g AS g, abs(c.v - m.m) AS v
FROM (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL) c
JOIN (SELECT event_type AS g, quantile_cont(CAST(value AS DOUBLE), 0.5) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1) m USING (g)
""")

    # Same per-day conditional means, same difference moments, same Φ.
    o["stats_paired_ttest"] = """
WITH per AS (
  SELECT CAST(ts AS DATE) AS k,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END) AS sa,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS sb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY 1
), paired AS (
  SELECT sa/na AS ma, sb/nb AS mb FROM per WHERE na > 0 AND nb > 0
), agg AS (
  SELECT count(*) AS n, sum(ma) AS s1a, sum(mb) AS s1b,
         sum(ma - mb) AS sd1, sum((ma - mb)*(ma - mb)) AS sd2
  FROM paired
), c AS (
  SELECT n, s1a/n AS ma, s1b/n AS mb, sd1/n AS md,
         CASE WHEN n > 1
              THEN greatest((sd2 - sd1*(sd1/n))/(n - 1), 0.0) END AS vd
  FROM agg
), t AS (
  SELECT *, CASE WHEN vd > 0 THEN md/sqrt(vd/n) END AS tv FROM c
), ph AS (SELECT *, abs(tv) AS az, 1.0/(1.0 + 0.2316419*abs(tv)) AS tt FROM t)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round(md, 6) AS mean_diff,
       round(coalesce(tv, 0.0), 6) AS t_stat,
       round(CASE WHEN tv IS NULL THEN 1.0
                  ELSE least(2.0*(exp(-az*az/2.0)/2.5066282746310002)
                    *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
                       + tt*(-1.821255978 + tt*1.330274429))))), 1.0)
             END, 6) AS p_value
FROM ph
"""

    # md5 variant assignment (the sample_hash_buckets parity pattern),
    # one row per user, pooled-SE z + unpooled Wald CI, same Φ.
    o["events_abtest"] = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 100
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
), assigned AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         CAST(converted AS DOUBLE) AS s
  FROM per_user
), agg AS (
  SELECT sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN variant = 'A' THEN s ELSE 0.0 END) AS c_a,
         sum(CASE WHEN variant = 'B' THEN s ELSE 0.0 END) AS c_b
  FROM assigned
), r AS (
  SELECT n_a, n_b, c_a, c_b, c_a/n_a AS pa, c_b/n_b AS pb,
         (c_a + c_b)/(n_a + n_b) AS pp
  FROM agg
), z AS (
  SELECT *,
    CASE WHEN sqrt(pp*(1.0 - pp)*(1.0/n_a + 1.0/n_b)) > 0
         THEN (pa - pb)/sqrt(pp*(1.0 - pp)*(1.0/n_a + 1.0/n_b)) END AS zv,
    sqrt(pa*(1.0 - pa)/n_a + pb*(1.0 - pb)/n_b) AS se1
  FROM r
), ph AS (SELECT *, abs(zv) AS az, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt FROM z)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(c_a AS BIGINT) AS conv_a, CAST(c_b AS BIGINT) AS conv_b,
       round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
       round(pa - pb, 6) AS lift,
       round(coalesce(zv, 0.0), 6) AS z_stat,
       round(CASE WHEN zv IS NULL THEN 1.0
                  ELSE least(2.0*(exp(-az*az/2.0)/2.5066282746310002)
                    *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
                       + tt*(-1.821255978 + tt*1.330274429))))), 1.0)
             END, 6) AS p_value,
       round(pa - pb - 1.959963984540054*se1, 6) AS ci_lo,
       round(pa - pb + 1.959963984540054*se1, 6) AS ci_hi
FROM ph
"""

    # Same raw moments, same centered-identity Gram, same Cramer solve
    # (left-assoc n*m*m replays Spark's multiply order).
    o["ml_ols"] = """
WITH agg AS (
  SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
         sum(x1*x1) AS s11, sum(x2*x2) AS s22, sum(x1*x2) AS s12,
         sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(y*y) AS syy
  FROM (SELECT CAST(l_quantity AS DOUBLE) AS x1,
               CAST(l_discount AS DOUBLE) AS x2,
               CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          AND l_extendedprice IS NOT NULL)
), m AS (
  SELECT n, s1/n AS m1, s2/n AS m2, sy/n AS my,
         s11, s22, s12, s1y, s2y, syy
  FROM agg
), c AS (
  SELECT n, m1, m2, my,
         s11 - n*m1*m1 AS c11, s22 - n*m2*m2 AS c22,
         s12 - n*m1*m2 AS c12, s1y - n*m1*my AS c1y,
         s2y - n*m2*my AS c2y,
         greatest(syy - n*my*my, 0.0) AS sst
  FROM m
), sol AS (
  SELECT n, m1, m2, my, c1y, c2y, sst,
         CASE WHEN c11*c22 - c12*c12 > 0
              THEN (c22*c1y - c12*c2y)/(c11*c22 - c12*c12) END AS b1,
         CASE WHEN c11*c22 - c12*c12 > 0
              THEN (c11*c2y - c12*c1y)/(c11*c22 - c12*c12) END AS b2
  FROM c
), fit AS (
  SELECT n, my - b1*m1 - b2*m2 AS b0, b1, b2, sst,
         greatest(sst - b1*c1y - b2*c2y, 0.0) AS sse
  FROM sol
)
SELECT CAST(n AS BIGINT) AS n,
       round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
       round(CASE WHEN b1 IS NOT NULL AND sst > 0
                  THEN 1.0 - sse/sst END, 6) AS r2,
       round(CASE WHEN b1 IS NOT NULL THEN sqrt(sse/n) END, 6) AS rmse
FROM fit
"""

    # Same 5 sums, same analytic eigen pair, same sign-fixed
    # eigenvector (b, l1 - a).
    o["ml_pca2"] = """
WITH agg AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
  FROM (SELECT CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings
        WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL)
), m AS (
  SELECT n, sx/n AS mx, sy/n AS my, sxx, syy, sxy FROM agg
), c AS (
  SELECT n, mx, my,
         CASE WHEN n > 1
              THEN greatest((sxx - n*mx*mx)/(n-1), 0.0) END AS a,
         CASE WHEN n > 1
              THEN greatest((syy - n*my*my)/(n-1), 0.0) END AS c,
         CASE WHEN n > 1 THEN (sxy - n*mx*my)/(n-1) END AS b
  FROM m
), eig AS (
  SELECT n, mx, my, a, c, b,
         (a + c)/2.0 + sqrt(((a - c)/2.0)*((a - c)/2.0) + b*b) AS l1,
         (a + c)/2.0 - sqrt(((a - c)/2.0)*((a - c)/2.0) + b*b) AS l2
  FROM c
), vec AS (
  SELECT *,
         CASE WHEN b <> 0 THEN b
              WHEN a >= c THEN 1.0 ELSE 0.0 END AS vx,
         CASE WHEN b <> 0 THEN l1 - a
              WHEN a >= c THEN 0.0 ELSE 1.0 END AS vy
  FROM eig
), un AS (
  SELECT *, vx/sqrt(vx*vx + vy*vy) AS ux, vy/sqrt(vx*vx + vy*vy) AS uy
  FROM vec
), sf AS (
  SELECT *,
         CASE WHEN ux < 0 OR (ux = 0 AND uy < 0) THEN -ux ELSE ux END AS ux2,
         CASE WHEN ux < 0 OR (ux = 0 AND uy < 0) THEN -uy ELSE uy END AS uy2
  FROM un
)
SELECT CAST(n AS BIGINT) AS n,
       round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
       round(a, 6) AS var_x, round(c, 6) AS var_y, round(b, 6) AS cov_xy,
       round(l1, 6) AS lambda1, round(l2, 6) AS lambda2,
       round(CASE WHEN l1 + l2 > 0 THEN l1/(l1 + l2) END, 6) AS evr1,
       round(ux2, 6) AS pc1_x, round(uy2, 6) AS pc1_y
FROM sf
"""

    # Same basket dedup/cap, same a-priori item pruning, same cosine,
    # same (cosine DESC, neighbor ASC) rank.
    o["rec_item_cf"] = """
WITH b AS (SELECT DISTINCT l_orderkey AS u, l_partkey % 100 AS i FROM lineitem),
keep AS (SELECT u FROM (SELECT u, count(*) AS c FROM b GROUP BY 1) WHERE c <= 500),
b2 AS (SELECT b.u, b.i FROM b JOIN keep USING (u)),
supp AS (SELECT i, count(*) AS n_item FROM b2 GROUP BY 1 HAVING count(*) >= 5),
f AS (SELECT b2.u, b2.i FROM b2 JOIN supp ON supp.i = b2.i),
p AS (SELECT a.i AS ia, c.i AS ib, count(*) AS nb
      FROM f a JOIN f c USING (u) WHERE a.i < c.i GROUP BY 1, 2),
d AS (SELECT ia AS item, ib AS neighbor, nb FROM p
      UNION ALL
      SELECT ib AS item, ia AS neighbor, nb FROM p),
s AS (SELECT d.item, d.neighbor, CAST(d.nb AS BIGINT) AS n_both,
             CAST(si.n_item AS BIGINT) AS n_item,
             CAST(sn.n_item AS BIGINT) AS n_neighbor,
             round(d.nb / sqrt(CAST(si.n_item AS DOUBLE) * sn.n_item), 6)
               AS cosine
      FROM d JOIN supp si ON si.i = d.item
             JOIN supp sn ON sn.i = d.neighbor),
r AS (SELECT *, row_number() OVER (
        PARTITION BY item ORDER BY cosine DESC, neighbor ASC) AS rnk
      FROM s)
SELECT item, neighbor, n_both, n_item, n_neighbor, cosine,
       CAST(rnk AS INTEGER) AS rank
FROM r WHERE rnk <= 5
"""

    # k-core: the identical 8 peel rounds unrolled as MATERIALIZED
    # CTEs (the markov_attribution discipline — without MATERIALIZED
    # each round's double reference to the previous frame inlines and
    # the plan grows exponentially).
    _kcore_k, _kcore_rounds = 20, 8
    _kcore = """WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT o_custkey % 100 AS a, o_orderkey % 100 AS b FROM orders
    UNION ALL
    SELECT o_orderkey % 100 AS a, o_custkey % 100 AS b FROM orders)
  WHERE a <> b)"""
    for _r in range(_kcore_rounds):
        _kcore += f""",
k{_r} AS MATERIALIZED (
  SELECT a FROM (SELECT a, count(*) AS d FROM e{_r} GROUP BY 1)
  WHERE d >= {_kcore_k}),
e{_r + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{_r} e
  JOIN k{_r} ka ON ka.a = e.a JOIN k{_r} kb ON kb.a = e.b)"""
    _kcore += f"""
SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
FROM e{_kcore_rounds} GROUP BY 1 HAVING count(*) >= {_kcore_k}
"""
    o["graph_kcore"] = _kcore

    # IRLS unrolled: the identical 5 Newton rounds as MATERIALIZED
    # CTEs — per round the same 9 weighted moments, the same one-
    # expression-tree Cramer solve (stats.py _solve3_sym), the same
    # round(·, 7) coefficient resync that absorbs the engines'
    # addition-order drift.
    _lr_iters = 5
    _logreg = """WITH d AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x1,
         CAST(hour(ts) AS DOUBLE) AS x2,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
              AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
b0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"""
    for _i in range(1, _lr_iters + 1):
        _logreg += f""",
m{_i} AS MATERIALIZED (
  SELECT d.x1, d.x2, d.y,
         b.b0 + b.b1*d.x1 + b.b2*d.x2 AS eta,
         greatest(least(
           1.0/(1.0 + exp(-(b.b0 + b.b1*d.x1 + b.b2*d.x2))),
           1.0 - 1e-6), 1e-6) AS mu
  FROM d, b{_i - 1} b),
g{_i} AS MATERIALIZED (
  SELECT sum(w) AS a11, sum(w*x1) AS a12, sum(w*x2) AS a13,
         sum(w*x1*x1) AS a22, sum(w*x1*x2) AS a23, sum(w*x2*x2) AS a33,
         sum(w*z) AS c1, sum(w*x1*z) AS c2, sum(w*x2*z) AS c3
  FROM (SELECT x1, x2,
               mu*(1.0 - mu) AS w,
               eta + (y - mu)/(mu*(1.0 - mu)) AS z
        FROM m{_i})),
b{_i} AS (
  SELECT round((c1*(a22*a33 - a23*a23) - a12*(c2*a33 - a23*c3)
                + a13*(c2*a23 - a22*c3)) / det, 7) AS b0,
         round((a11*(c2*a33 - a23*c3) - c1*(a12*a33 - a23*a13)
                + a13*(a12*c3 - c2*a13)) / det, 7) AS b1,
         round((a11*(a22*c3 - c2*a23) - a12*(a12*c3 - c2*a13)
                + c1*(a12*a23 - a22*a13)) / det, 7) AS b2
  FROM (SELECT *, a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
                  + a13*(a12*a23 - a22*a13) AS det
        FROM g{_i}))"""
    _logreg += f""",
mf AS (
  SELECT d.y,
         greatest(least(
           1.0/(1.0 + exp(-(b.b0 + b.b1*d.x1 + b.b2*d.x2))),
           1.0 - 1e-6), 1e-6) AS mu
  FROM d, b{_lr_iters} b)
SELECT CAST(count(*) AS BIGINT) AS n, b.b0 AS b0, b.b1 AS b1, b.b2 AS b2,
       round(sum(y*ln(mu) + (1.0 - y)*ln(1.0 - mu)), 6) AS log_lik
FROM mf, b{_lr_iters} b GROUP BY b.b0, b.b1, b.b2
"""
    o["ml_logreg"] = _logreg

    # Same cell aggregation, same strict-inequality pair mass, same
    # marginal tie corrections, same Kendall-1938 z and Φ.
    # Same score-keyed counts, same T / Var0 identities, same Φ.
    o["stats_cochran_armitage"] = """
WITH per AS (
  SELECT CAST(hour(ts) AS DOUBLE) AS s, count(*) AS ni,
         sum(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS ri
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1
), agg AS (
  SELECT count(*) AS k, sum(ni) AS n, sum(ri) AS r,
         sum(ri*s) AS rs, sum(ni*s) AS ns, sum(ni*s*s) AS ns2
  FROM per
), c AS (
  SELECT k, n, r, rs - r*ns/n AS t,
         CASE WHEN (r/n)*(1.0 - r/n)*(ns2 - ns*ns/n) > 0
              THEN greatest((r/n)*(1.0 - r/n)*(ns2 - ns*ns/n), 0.0)
         END AS v
  FROM agg
), z AS (
  SELECT *, CASE WHEN v IS NOT NULL THEN t/sqrt(v) END AS zv FROM c
), ph AS (SELECT *, abs(zv) AS az, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt FROM z)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       CAST(r AS BIGINT) AS n_success,
       round(t, 6) AS t_stat,
       round(coalesce(zv, 0.0), 6) AS z_stat,
       round(CASE WHEN zv IS NULL THEN 1.0
                  ELSE least(2.0*(exp(-az*az/2.0)/2.5066282746310002)
                    *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
                       + tt*(-1.821255978 + tt*1.330274429))))), 1.0)
             END, 6) AS p_value
FROM ph
"""

    # Same per-user dedup + md5 assignment as events_abtest, the
    # Fleiss MDE identity with the z-grid literal sum.
    o["events_ab_power"] = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 100
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
), assigned AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         CAST(converted AS DOUBLE) AS s
  FROM per_user
), agg AS (
  SELECT sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
         sum(s) AS c
  FROM assigned
), r AS (
  SELECT n_a, n_b, c/(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p
  FROM agg
), s AS (
  SELECT *, sqrt(p*(1.0 - p)*(1.0/n_a + 1.0/n_b)) AS se FROM r
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(p, 6) AS pooled_rate, round(se, 6) AS se,
       round((1.959963984540054 + 0.8416212335729143)*se, 6) AS mde_abs,
       round(CASE WHEN p > 0
                  THEN (1.959963984540054 + 0.8416212335729143)*se/p
             END, 6) AS mde_rel
FROM s
"""

    # Same per-user pre/post sums, same md5 assignment, same pooled
    # theta, same adjusted-moment identities.
    o["events_cuped"] = """
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                  THEN value ELSE 0.0 END) AS pre,
         sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                  THEN value ELSE 0.0 END) AS post
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), units AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 15)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS v,
         pre AS x, post AS y
  FROM per_user
), per AS (
  SELECT v, count(*) AS n, sum(y) AS sy, sum(x) AS sx,
         sum(y*y) AS syy, sum(x*x) AS sxx, sum(x*y) AS sxy
  FROM units GROUP BY 1
), wide AS (
  SELECT max(CASE WHEN v = 'A' THEN n END) AS an,
         max(CASE WHEN v = 'A' THEN sy END) AS asy,
         max(CASE WHEN v = 'A' THEN sx END) AS asx,
         max(CASE WHEN v = 'A' THEN syy END) AS asyy,
         max(CASE WHEN v = 'A' THEN sxx END) AS asxx,
         max(CASE WHEN v = 'A' THEN sxy END) AS asxy,
         max(CASE WHEN v = 'B' THEN n END) AS bn,
         max(CASE WHEN v = 'B' THEN sy END) AS bsy,
         max(CASE WHEN v = 'B' THEN sx END) AS bsx,
         max(CASE WHEN v = 'B' THEN syy END) AS bsyy,
         max(CASE WHEN v = 'B' THEN sxx END) AS bsxx,
         max(CASE WHEN v = 'B' THEN sxy END) AS bsxy
  FROM per
), t AS (
  SELECT *, CAST(an + bn AS DOUBLE) AS N,
         asy + bsy AS SY, asx + bsx AS SX, asyy + bsyy AS SYY,
         asxx + bsxx AS SXX, asxy + bsxy AS SXY
  FROM wide
), th AS (
  SELECT *,
         CASE WHEN SXX - SX*SX/N > 0
              THEN (SXY - SX*SY/N)/(SXX - SX*SX/N) ELSE 0.0 END AS theta,
         SX/N AS xbar
  FROM t
), arms AS (
  SELECT *,
         (asy - theta*asx)/an AS mra,
         (bsy - theta*bsx)/bn AS mrb
  FROM th
), va AS (
  SELECT *,
         greatest((asyy - 2*theta*asxy + theta*theta*asxx
                   - an*mra*mra)/(an - 1), 0.0) AS vara,
         greatest((bsyy - 2*theta*bsxy + theta*theta*bsxx
                   - bn*mrb*mrb)/(bn - 1), 0.0) AS varb,
         mra + theta*xbar AS ma, mrb + theta*xbar AS mb
  FROM arms
), zt AS (
  SELECT *,
         CASE WHEN sqrt(vara/an + varb/bn) > 0
              THEN (ma - mb)/sqrt(vara/an + varb/bn) END AS z,
         (SY - theta*SX)/N AS mz
  FROM va
), vr AS (
  SELECT *,
         greatest((SYY - 2*theta*SXY + theta*theta*SXX - N*mz*mz)
                  /(N - 1), 0.0) AS varz,
         greatest((SYY - SY*SY/N)/(N - 1), 0.0) AS vary
  FROM zt
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM vr)
SELECT CAST(an AS BIGINT) AS n_a, CAST(bn AS BIGINT) AS n_b,
       round(theta, 6) AS theta,
       round(ma, 6) AS mean_adj_a, round(mb, 6) AS mean_adj_b,
       round(ma - mb, 6) AS diff,
       round(z, 6) AS z,
       round(CASE WHEN z IS NOT NULL THEN
         least(greatest(2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 0.0), 1.0)
         END, 6) AS p_value,
       round(CASE WHEN vary > 0 THEN 1 - varz/vary END, 6)
         AS var_reduction
FROM ph
"""

    # Same Welch-form V, same mixture-likelihood closed form.
    o["events_msprt"] = """
WITH agg AS (
  SELECT sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN event_type = 'view' THEN value END) AS sa,
         sum(CASE WHEN event_type = 'click' THEN value END) AS sb,
         sum(CASE WHEN event_type = 'view' THEN value*value END) AS qa,
         sum(CASE WHEN event_type = 'click' THEN value*value END) AS qb
  FROM events
  WHERE event_type IN ('view', 'click') AND value IS NOT NULL
), c AS (
  SELECT na, nb, sa/na AS ma, sb/nb AS mb,
         greatest((qa - sa*(sa/na))/(na - 1), 0.0) AS va,
         greatest((qb - sb*(sb/nb))/(nb - 1), 0.0) AS vb
  FROM agg
), v AS (
  SELECT na, nb, ma - mb AS d, va/na + vb/nb AS V FROM c
), l AS (
  SELECT na, nb, d, V,
         CASE WHEN V > 0
              THEN sqrt(V/(V + 25.0))
                   * exp(d*d*25.0/(2.0*V*(V + 25.0))) END AS lam
  FROM v
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(d, 6) AS diff, round(sqrt(V), 6) AS se,
       round(lam, 6) AS lambda,
       round(CASE WHEN lam IS NOT NULL
                  THEN least(1.0/lam, 1.0) END, 6) AS p_always_valid,
       CASE WHEN lam IS NOT NULL
            THEN least(1.0/lam, 1.0) < 0.05 END AS reject_05
FROM l
"""

    # Same pooled (source, term) counts, same sum-tf^2 identity.
    o["text_yule_k"] = f"""
WITH t AS (SELECT source, {_SQL_TOKS} AS toks FROM documents),
tf AS (
  SELECT source AS g, __w, count(*) AS tf FROM (
    SELECT source, unnest(toks) AS __w FROM t) GROUP BY 1, 2
), agg AS (
  SELECT g, sum(tf) AS n, count(*) AS types, sum(tf*tf) AS s2
  FROM tf GROUP BY 1
)
SELECT g AS "group", CAST(n AS BIGINT) AS n_tokens,
       CAST(types AS BIGINT) AS n_types,
       round(CASE WHEN n > 1
                  THEN 1e4*(s2 - CAST(n AS DOUBLE))
                       /(CAST(n AS DOUBLE)*n) END, 6) AS yule_k
FROM agg
"""

    # Nearest = the closer of the backward/forward ASOF picks,
    # backward winning exact ties (the operator's pandas semantics).
    o["join_asof_nearest"] = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts FROM events
  WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
b AS (
  SELECT p.purchase_id, p.user_id, p.ts, v.ts AS bts, v.view_id AS bid
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
),
f AS (
  SELECT p.purchase_id, v.ts AS fts, v.view_id AS fid
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
)
SELECT b.purchase_id, b.user_id, b.ts,
       CASE WHEN bts IS NULL THEN fts
            WHEN fts IS NULL THEN bts
            WHEN (b.ts - bts) <= (fts - b.ts) THEN bts ELSE fts
       END AS right_ts,
       CASE WHEN bts IS NULL THEN fid
            WHEN fts IS NULL THEN bid
            WHEN (b.ts - bts) <= (fts - b.ts) THEN bid ELSE fid
       END AS right_view_id
FROM b JOIN f USING (purchase_id)
"""

    # TextRank: the sentence/token twins feed a 3-round unrolled
    # weighted pagerank (MATERIALIZED CTEs, the kcore/markov
    # discipline); ranks order by round-6 scores so the engines'
    # ~1e-15 sum-order drift cannot flip a rank.
    _tr_sent_toks = (
        "list_filter(regexp_split_to_array(lower(sentence), '[^a-z0-9]+'), "
        "x -> length(x) >= 2)"
    )
    _tr = f"""WITH marked AS (
  SELECT doc_id,
         string_split(regexp_replace(replace(text, ' the ', '. The '),
                      '([.!?]+)\\s+', '\\1' || chr(30), 'g'), chr(30)) AS parts
  FROM documents
), sents AS (
  SELECT doc_id,
         CAST(unnest(range(len(parts))) AS INT) AS sent_idx,
         unnest(list_transform(parts, x -> trim(x))) AS sentence
  FROM marked
), st AS MATERIALIZED (
  SELECT doc_id, sent_idx, md5(sentence) AS digest,
         CAST(len(list_distinct({_tr_sent_toks})) AS INT) AS n_tok,
         list_distinct({_tr_sent_toks}) AS toks
  FROM sents
  WHERE len(list_distinct({_tr_sent_toks})) > 0
), keep AS (
  SELECT doc_id FROM (SELECT doc_id, count(*) AS c FROM st GROUP BY 1)
  WHERE c <= 500
), stc AS MATERIALIZED (SELECT st.* FROM st JOIN keep USING (doc_id)),
tok AS (SELECT doc_id, sent_idx, n_tok, unnest(toks) AS w FROM stc),
ov AS (
  SELECT a.doc_id, a.sent_idx AS i, b.sent_idx AS j, count(*) AS ov,
         any_value(a.n_tok) AS ni, any_value(b.n_tok) AS nj
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND a.w = b.w AND a.sent_idx < b.sent_idx
  GROUP BY 1, 2, 3
), und AS (
  SELECT doc_id, i, j,
         ov / (ln(CAST(ni AS DOUBLE)) + ln(CAST(nj AS DOUBLE))) AS wt
  FROM ov
  WHERE ln(CAST(ni AS DOUBLE)) + ln(CAST(nj AS DOUBLE)) > 0
), edges AS MATERIALIZED (
  SELECT doc_id, i AS src, j AS dst, wt FROM und
  UNION ALL
  SELECT doc_id, j AS src, i AS dst, wt FROM und
), ew AS MATERIALIZED (
  SELECT e.doc_id, e.src, e.dst, e.wt, o.outw
  FROM edges e
  JOIN (SELECT doc_id, src, sum(wt) AS outw FROM edges GROUP BY 1, 2) o
    ON o.doc_id = e.doc_id AND o.src = e.src
), spine AS MATERIALIZED (SELECT doc_id, sent_idx AS node FROM stc),
s0 AS (SELECT doc_id, node, 1.0 AS score FROM spine)"""
    for _i in range(1, 4):
        _tr += f""",
s{_i} AS MATERIALIZED (
  SELECT sp.doc_id, sp.node,
         (1.0 - 0.85) + 0.85*coalesce(c.s, 0.0) AS score
  FROM spine sp
  LEFT JOIN (
    SELECT e.doc_id, e.dst AS node, sum(e.wt/e.outw*s.score) AS s
    FROM ew e JOIN s{_i - 1} s ON s.doc_id = e.doc_id AND s.node = e.src
    GROUP BY 1, 2
  ) c ON c.doc_id = sp.doc_id AND c.node = sp.node)"""
    _tr += """,
ranked AS (
  SELECT doc_id, node AS sent_idx, round(score, 6) AS score,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY round(score, 6) DESC, node ASC
         ) AS INTEGER) AS rank
  FROM s3
)
SELECT r.doc_id, r.sent_idx, s.n_tok, r.score, r.rank, s.digest
FROM ranked r JOIN stc s ON s.doc_id = r.doc_id AND s.sent_idx = r.sent_idx
WHERE r.rank <= 2
"""
    o["text_textrank"] = _tr

    # The streaming twin answers with the SAME numbers as the batch
    # A/B query — users dedup across micro-batches, so the ledger fold
    # equals the direct per-user aggregation.
    o["stream_abtest"] = o["events_abtest"]

    # BY = the BH pipeline with the harmonic c(m) deflation spliced in
    # before the step-up (the shared prefix is reused verbatim so the
    # two oracles cannot drift).
    _bh_prefix = o["stats_bh_fdr"].split("), mono AS (")[0]
    o["stats_by_fdr"] = _bh_prefix + """), cm AS (
  SELECT *, sum(1.0/rank) OVER () AS c_m FROM ranked
), mono AS (
  SELECT *, least(min(p * m * c_m / rank) OVER (
           ORDER BY rank DESC ROWS UNBOUNDED PRECEDING), 1.0) AS q
  FROM cm
)
SELECT test, round(p, 6) AS p_value, rank, m, round(c_m, 6) AS c_m,
       round(q, 6) AS q_value, q <= 0.05 AS reject
FROM mono
"""

    # Same per-user dedup + md5 assignment + activity segmentation,
    # same per-segment pooled z and Φ, same (p, segment)-ranked BH.
    o["events_uplift_segments"] = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 100
                  THEN 1 ELSE 0 END) AS converted,
         count(*) AS n_ev
  FROM events GROUP BY 1
), assigned AS (
  SELECT CAST(CAST(least(floor(n_ev/25), 3) AS BIGINT) AS VARCHAR) AS segment,
         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         CAST(converted AS DOUBLE) AS s
  FROM per_user
), per AS (
  SELECT segment,
         sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN variant = 'A' THEN s ELSE 0.0 END) AS c_a,
         sum(CASE WHEN variant = 'B' THEN s ELSE 0.0 END) AS c_b
  FROM assigned GROUP BY 1
), r AS (
  SELECT segment, n_a, n_b, c_a, c_b,
         CASE WHEN n_a > 0 THEN c_a/CAST(n_a AS DOUBLE) END AS pa,
         CASE WHEN n_b > 0 THEN c_b/CAST(n_b AS DOUBLE) END AS pb,
         CASE WHEN n_a > 0 AND n_b > 0
              THEN (c_a + c_b)/(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
         END AS pp
  FROM per
), z AS (
  SELECT *,
    CASE WHEN pp IS NOT NULL
              AND sqrt(pp*(1.0 - pp)*(1.0/n_a + 1.0/n_b)) > 0
         THEN (pa - pb)/sqrt(pp*(1.0 - pp)*(1.0/n_a + 1.0/n_b)) END AS zv
  FROM r
), ph AS (SELECT *, abs(zv) AS az, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt FROM z),
pv AS (
  SELECT *,
    round(CASE WHEN zv IS NULL THEN 1.0
               ELSE least(2.0*(exp(-az*az/2.0)/2.5066282746310002)
                 *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
                    + tt*(-1.821255978 + tt*1.330274429))))), 1.0)
          END, 6) AS p
  FROM ph
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY p, segment) AS rank,
         count(*) OVER () AS m
  FROM pv
), mono AS (
  SELECT *, least(min(p * m / rank) OVER (
           ORDER BY rank DESC ROWS UNBOUNDED PRECEDING), 1.0) AS q
  FROM ranked
)
SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(c_a AS BIGINT) AS conv_a, CAST(c_b AS BIGINT) AS conv_b,
       round(coalesce(pa, 0.0), 6) AS rate_a,
       round(coalesce(pb, 0.0), 6) AS rate_b,
       round(coalesce(pa - pb, 0.0), 6) AS lift,
       round(coalesce(zv, 0.0), 6) AS z_stat,
       p AS p_value, round(q, 6) AS q_value, q <= 0.05 AS reject
FROM mono
"""

    # Same brute cosine + rank tie-break as sim_brute_topk, same
    # (count DESC, label ASC) majority vote.
    o["ml_knn"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS query_id, v, label AS actual FROM e
      WHERE vec_id % 10 = 0 ORDER BY vec_id LIMIT 200),
tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
s AS (
  SELECT a.query_id, b.vec_id, b.label,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM q a, tr b
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM s
), votes AS (
  SELECT query_id, label, count(*) AS c
  FROM r WHERE rnk <= 5 GROUP BY 1, 2
), top AS (
  SELECT query_id, label AS predicted, c,
         row_number() OVER (
           PARTITION BY query_id ORDER BY c DESC, label ASC) AS rn
  FROM votes
)
SELECT t.query_id, q.actual, t.predicted,
       CAST(t.c AS BIGINT) AS n_votes,
       q.actual = t.predicted AS correct
FROM top t JOIN q USING (query_id) WHERE t.rn = 1
"""

    # The LPA oracle supplies the partition; Newman arithmetic on the
    # canonical undirected edge set.
    o["graph_modularity"] = f"""
WITH labels AS ({o["graph_lpa"]}),
e AS (
  SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
  FROM (SELECT o_custkey % 200 AS a0,
               (o_custkey % 200) - (o_custkey % 200) % 10
                 + o_orderkey % 10 AS b0
        FROM orders)
  WHERE a0 <> b0
), ej AS (
  SELECT e.a, e.b, la.label AS la, lb.label AS lb
  FROM e JOIN labels la ON la.node = e.a JOIN labels lb ON lb.node = e.b
), intra AS (SELECT la AS l, count(*) AS ec FROM ej WHERE la = lb GROUP BY 1),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY 1
), degc AS (
  SELECT lab.label AS l, sum(d.d) AS degc
  FROM deg d JOIN labels lab ON lab.node = d.n GROUP BY 1
), tot AS (SELECT count(*) AS m FROM e),
per AS (
  SELECT degc.l, coalesce(intra.ec, 0) AS ec, degc.degc
  FROM degc LEFT JOIN intra ON intra.l = degc.l
)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       CAST(max(m) AS BIGINT) AS m_edges,
       round(sum(ec/CAST(m AS DOUBLE)
                 - (degc/(2.0*CAST(m AS DOUBLE)))
                   *(degc/(2.0*CAST(m AS DOUBLE)))), 6) AS modularity
FROM per, tot
"""

    # Same candidate counts, same max-shifted exponential weights,
    # same single md5 draw, same ordered cumulative-weight scan.
    o["privacy_dp_quantile"] = """
WITH clean AS (
  SELECT CAST(round(value, 0) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), cells AS (SELECT v, count(*) AS c FROM clean GROUP BY 1),
st AS (
  SELECT v,
         sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS le,
         sum(c) OVER () AS n, count(*) OVER () AS k
  FROM cells
), u AS (
  SELECT *, -abs(CAST(le AS DOUBLE) - 0.5*CAST(n AS DOUBLE)) AS ut FROM st
), m AS (SELECT *, max(ut) OVER () AS umax FROM u),
w AS (SELECT *, exp(1.0*(ut - umax)/2.0) AS wt FROM m),
cw AS (
  SELECT *, sum(wt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cwt FROM w
), t AS (
  SELECT *, max(cwt) OVER () AS total,
         CAST(('0x' || substr(md5('dpq:7'), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS du
  FROM cw
)
SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS n_candidates,
       0.5 AS q, 1.0 AS epsilon,
       round(min(CASE WHEN le >= ceil(0.5*CAST(n AS DOUBLE))
                      THEN v END), 6) AS exact_value,
       round(min(CASE WHEN cwt >= du*total THEN v END), 6)
         AS released_value
FROM t
"""

    # Same per-x max, same descending exclusive running max, same
    # id-recovery join over the token_stats surface.
    o["curation_pareto_docs"] = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS DOUBLE) AS x,
         CAST(len(list_distinct({_SQL_TOKS})) AS DOUBLE) AS y
  FROM documents
), perx AS (SELECT x, max(y) AS ymax FROM t GROUP BY 1),
f AS (
  SELECT x, ymax AS y FROM (
    SELECT *, max(ymax) OVER (
      ORDER BY x DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) AS prev
    FROM perx)
  WHERE prev IS NULL OR ymax > prev
)
SELECT t.doc_id, t.x AS n_tokens, t.y AS n_unique
FROM t JOIN f ON t.x = f.x AND t.y = f.y
"""

    # Same canonical edges, same degree joins, same symmetrized stub
    # pairs, same Pearson corr (scale-invariant, so the estimator
    # convention cancels).
    o["graph_assortativity"] = """
WITH e AS (
  SELECT DISTINCT least(o_custkey % 100, o_orderkey % 100) AS a,
                  greatest(o_custkey % 100, o_orderkey % 100) AS b
  FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
), deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY 1
), ends AS (
  SELECT da.d AS dx, db.d AS dy
  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
), pairs AS (
  SELECT CAST(dx AS DOUBLE) AS dx, CAST(dy AS DOUBLE) AS dy FROM ends
  UNION ALL
  SELECT CAST(dy AS DOUBLE), CAST(dx AS DOUBLE) FROM ends
)
SELECT CAST(count(*)/2 AS BIGINT) AS m_edges,
       round(corr(dx, dy), 6) AS assortativity
FROM pairs
"""

    # Same degree-ordered orientation, same sink-attributed triangle
    # enumeration (each triangle once), same three-corner union, same
    # degree>=2 convention for the local average.
    o["graph_clustering"] = """
WITH e AS (
  SELECT DISTINCT least(o_custkey % 100, o_orderkey % 100) AS a,
                  greatest(o_custkey % 100, o_orderkey % 100) AS b
  FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
), deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY 1
), o AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v
  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
), tri AS (
  SELECT e1.u AS p, e1.v AS q, e2.v AS r
  FROM o e1
  JOIN o e2 ON e2.u = e1.u AND e2.v <> e1.v
  JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v
), corners AS (
  SELECT n, count(*) AS t FROM (
    SELECT p AS n FROM tri UNION ALL SELECT q FROM tri
    UNION ALL SELECT r FROM tri) GROUP BY 1
), per AS (
  SELECT deg.d, coalesce(corners.t, 0) AS t
  FROM deg LEFT JOIN corners ON deg.n = corners.n
)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(CAST(d AS DOUBLE)*(d-1)/2.0) AS BIGINT) AS n_wedges,
       CAST(sum(CAST(t AS DOUBLE))/3 AS BIGINT) AS n_triangles,
       round(sum(CAST(t AS DOUBLE))
             / (CASE WHEN sum(CAST(d AS DOUBLE)*(d-1)/2.0) > 0
                     THEN sum(CAST(d AS DOUBLE)*(d-1)/2.0) END), 6)
         AS transitivity,
       round(avg(CASE WHEN d >= 2
                      THEN CAST(t AS DOUBLE)/(CAST(d AS DOUBLE)*(d-1)/2.0)
                 END), 6) AS avg_local
FROM per
"""

    # Same dedup/self-loop drop, same reversed-key probe, same ratio.
    o["graph_reciprocity"] = """
WITH d AS (
  SELECT DISTINCT o_custkey % 60 AS s, o_orderkey % 60 AS t
  FROM orders WHERE o_custkey % 60 <> o_orderkey % 60
), marked AS (
  SELECT d.s, d.t,
         CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END AS rcp
  FROM d LEFT JOIN d r ON r.s = d.t AND r.t = d.s
)
SELECT CAST(count(*) AS BIGINT) AS m_directed,
       CAST(sum(rcp) AS BIGINT) AS m_reciprocated,
       round(sum(rcp)/CAST(count(*) AS DOUBLE), 6) AS reciprocity
FROM marked
"""

    # Same sigmoid score, same per-distinct-score (pos, neg) cells,
    # same tie-half U window, same clamped log terms.
    o["classify_auc"] = """
WITH base AS (
  SELECT round(1/(1+exp(-value/100.0)), 3) AS p,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), cells AS (
  SELECT p AS v, sum(y) AS ca, sum(1-y) AS cb FROM base GROUP BY 1
), st AS (
  SELECT ca, cb,
         coalesce(sum(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cbefore
  FROM cells
), u AS (SELECT sum(ca*(cbefore + cb/2.0)) AS usum FROM st),
m AS (
  SELECT count(*) AS n, sum(y) AS n_pos, sum(1-y) AS n_neg,
         avg((p - y)*(p - y)) AS brier,
         avg(-(y*ln(least(greatest(p, 1e-6), 1-1e-6))
               + (1-y)*ln(1 - least(greatest(p, 1e-6), 1-1e-6)))) AS ll
  FROM base
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       round(CASE WHEN n_pos > 0 AND n_neg > 0
                  THEN usum/(CAST(n_pos AS DOUBLE)*n_neg) END, 6) AS auc,
       round(brier, 6) AS brier,
       round(ll, 6) AS log_loss
FROM u, m
"""

    # Same lexicon argmax prediction (the text_langid fragment,
    # rebuilt locally — `_hits` is reused by the graph_hits oracle),
    # same contingency/marginal identities, same inner-join chance
    # mass.
    _kp_lex = {
        "en": "['the','and','of','to','in','is','it','that','for','with']",
        "fr": "['le','la','les','de','des','et','est','une','un','dans']",
        "es": "['el','la','los','de','que','es','en','un','una','por']",
        "de": "['der','die','das','und','ist','ein','eine','mit','von','zu']",
        "zh": "['de','shi','le','bu','wo','ni','ta','men','zai','you']",
    }
    _kp_hits = ", ".join(
        f"len(list_filter(toks, x -> list_contains({lex}, x))) AS hits_{lang}"
        for lang, lex in _kp_lex.items()
    )
    _kp_arr = "[" + ", ".join(f"hits_{lang}" for lang in _kp_lex) + "]"
    _kp_langs = "[" + ", ".join(f"'{lang}'" for lang in _kp_lex) + "]"
    o["stats_cohens_kappa"] = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang, {_kp_hits} FROM t),
r AS (
  SELECT lang AS a,
         CASE WHEN list_max({_kp_arr}) = 0 THEN 'und'
              ELSE {_kp_langs}[list_position({_kp_arr},
                                             list_max({_kp_arr}))]
         END AS b
  FROM h WHERE lang IS NOT NULL
), cells AS (SELECT a, b, count(*) AS c FROM r GROUP BY 1, 2),
tot AS (
  SELECT sum(c) AS n,
         coalesce(sum(CASE WHEN a = b THEN c END), 0) AS agree
  FROM cells
), ma AS (SELECT a, sum(c) AS na FROM cells GROUP BY 1),
mb AS (SELECT b, sum(c) AS nb FROM cells GROUP BY 1),
x AS (
  SELECT coalesce(sum(ma.na*mb.nb), 0) AS cmass
  FROM ma JOIN mb ON ma.a = mb.b
)
SELECT CAST(n AS BIGINT) AS n,
       round(agree/CAST(n AS DOUBLE), 6) AS po,
       round(cmass/(CAST(n AS DOUBLE)*n), 6) AS pe,
       round(CASE WHEN cmass/(CAST(n AS DOUBLE)*n) < 1.0
                  THEN (agree/CAST(n AS DOUBLE) - cmass/(CAST(n AS DOUBLE)*n))
                       / (1.0 - cmass/(CAST(n AS DOUBLE)*n)) END, 6) AS kappa
FROM tot, x
"""

    # Same tf run, same graded position qrels, same (score desc, doc
    # asc) rank order, same exponential-gain DCG, full-run MRR/AP
    # conventions.
    _re_terms = ["query", "order", "table", "join", "hash"]
    _re_run = "\n    UNION ALL ".join(
        f"SELECT doc_id, '{w}' AS q, CAST(len(list_filter(toks, "
        f"x -> x = '{w}')) AS DOUBLE) AS score FROM t"
        for w in _re_terms
    )
    _re_rel = "\n    UNION ALL ".join(
        f"SELECT doc_id, '{w}' AS q, CASE "
        f"WHEN list_contains(toks[1:3], '{w}') THEN 2.0 "
        f"WHEN list_contains(toks[1:15], '{w}') THEN 1.0 "
        f"ELSE 0.0 END AS rel FROM t"
        for w in _re_terms
    )
    o["text_rank_eval"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
run AS (
  SELECT q, doc_id, score FROM (
    {_re_run}
  ) WHERE score > 0
), ranked AS (
  SELECT q, doc_id, row_number() OVER (
           PARTITION BY q ORDER BY score DESC, doc_id ASC) AS r
  FROM run
), qr AS (
  SELECT q, doc_id, rel FROM (
    {_re_rel}
  ) WHERE rel > 0
), j AS (
  SELECT ranked.q, ranked.r, coalesce(qr.rel, 0.0) AS rel
  FROM ranked LEFT JOIN qr
    ON ranked.q = qr.q AND ranked.doc_id = qr.doc_id
), jj AS (
  SELECT q, r, rel,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY q ORDER BY r) AS cum
  FROM j
), perq AS (
  SELECT q, count(*) AS n_ranked,
         sum(CASE WHEN r <= 10
                  THEN (pow(2.0, rel) - 1)/log2(r + 1.0) END) AS dcg,
         sum(CASE WHEN rel > 0 THEN CAST(cum AS DOUBLE)/r END) AS apnum,
         max(CASE WHEN rel > 0 THEN 1.0/r END) AS mrr
  FROM jj GROUP BY 1
), ideal AS (
  SELECT q, count(*) AS n_rel,
         sum(CASE WHEN ir <= 10
                  THEN (pow(2.0, rel) - 1)/log2(ir + 1.0) END) AS idcg
  FROM (SELECT q, rel, row_number() OVER (
          PARTITION BY q ORDER BY rel DESC, doc_id ASC) AS ir
        FROM qr WHERE rel > 0)
  GROUP BY 1
)
SELECT perq.q AS query_id,
       CAST(n_ranked AS BIGINT) AS n_ranked,
       CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
       round(CASE WHEN idcg > 0 THEN dcg/idcg END, 6) AS ndcg_at_k,
       round(mrr, 6) AS mrr,
       round(CASE WHEN n_rel > 0 THEN apnum/n_rel END, 6) AS ap
FROM perq LEFT JOIN ideal ON perq.q = ideal.q
"""

    # Same daily rollup, same init-weighted closed-form kernel for
    # both smoothing passes, same scalar trend factor.
    o["stats_brown_smoothing"] = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, sum(value) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), idx AS (
  SELECT day, x, row_number() OVER (ORDER BY day) AS t FROM daily
), s1 AS (
  SELECT a.t,
         sum(CASE WHEN b.t = 1 THEN pow(0.7, a.t - 1)
                  ELSE 0.3*pow(0.7, a.t - b.t) END * b.x) AS s1
  FROM idx a JOIN idx b ON b.t <= a.t GROUP BY 1
), base AS (
  SELECT idx.day, idx.x, idx.t, s1.s1 FROM idx JOIN s1 ON idx.t = s1.t
), s2 AS (
  SELECT a.t,
         sum(CASE WHEN b.t = 1 THEN pow(0.7, a.t - 1)
                  ELSE 0.3*pow(0.7, a.t - b.t) END * b.s1) AS s2
  FROM base a JOIN base b ON b.t <= a.t GROUP BY 1
)
SELECT base.day,
       round(base.x, 6) AS x,
       round(base.s1, 6) AS s1,
       round(s2.s2, 6) AS s2,
       round(2*base.s1 - s2.s2, 6) AS level,
       round((0.3/0.7)*(base.s1 - s2.s2), 6) AS trend,
       round(2*base.s1 - s2.s2
             + (0.3/0.7)*(base.s1 - s2.s2), 6) AS forecast_next
FROM base JOIN s2 ON base.t = s2.t
"""

    # Same per-value cells, same cumulative split counts, same
    # integer-ratio Gini arithmetic, same (impurity, threshold)
    # argmin order.
    o["ml_decision_stump"] = """
WITH base AS (
  SELECT round(value, 0) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), cells AS (SELECT v, sum(y) AS n1, sum(1-y) AS n0 FROM base GROUP BY 1),
tot AS (SELECT sum(n1) AS t1, sum(n0) AS t0 FROM cells),
cum AS (
  SELECT v, t1, t0,
         sum(n1) OVER (ORDER BY v) AS c1,
         sum(n0) OVER (ORDER BY v) AS c0
  FROM cells, tot
), cand AS (
  SELECT v, t1, t0, c1, c0,
         CAST(c1 + c0 AS DOUBLE) AS nl,
         CAST(t1 - c1 + t0 - c0 AS DOUBLE) AS nr
  FROM cum WHERE t1 - c1 + t0 - c0 > 0
), scored AS (
  SELECT *,
         (nl*(1.0 - pow(c1/nl, 2) - pow(c0/nl, 2))
          + nr*(1.0 - pow((t1-c1)/nr, 2) - pow((t0-c0)/nr, 2)))
         / CAST(t1 + t0 AS DOUBLE) AS g
  FROM cand
), best AS (SELECT * FROM scored ORDER BY g ASC, v ASC LIMIT 1)
SELECT CAST(t1 + t0 AS BIGINT) AS n,
       CAST(t1 AS BIGINT) AS n_pos,
       round(v, 6) AS threshold,
       round(1.0 - pow(t1/CAST(t1+t0 AS DOUBLE), 2)
                 - pow(t0/CAST(t1+t0 AS DOUBLE), 2), 6) AS gini_parent,
       round(g, 6) AS gini_split,
       round((1.0 - pow(t1/CAST(t1+t0 AS DOUBLE), 2)
                  - pow(t0/CAST(t1+t0 AS DOUBLE), 2)) - g, 6) AS gain,
       CAST(c1 + c0 AS BIGINT) AS left_n,
       round(c1/nl, 6) AS left_pos_rate,
       CAST(t1 - c1 + t0 - c0 AS BIGINT) AS right_n,
       round((t1 - c1)/nr, 6) AS right_pos_rate
FROM best
"""

    # Same designed weights, same zero-filled expected join, same
    # Wilson-Hilferty tail through the shared Phi polynomial.
    o["events_ab_srm"] = """
WITH counts AS (
  SELECT CASE WHEN user_id % 3 = 0 THEN 'A'
              WHEN user_id % 3 = 1 THEN 'B' ELSE 'C' END AS variant,
         count(*) AS o
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), ex AS (
  SELECT * FROM (VALUES ('A', 1.0/3.0), ('B', 1.0/3.0),
                        ('C', 1.0/3.0)) e(variant, w)
), j AS (
  SELECT ex.variant, ex.w, coalesce(counts.o, 0) AS o
  FROM ex LEFT JOIN counts USING (variant)
), t AS (SELECT sum(o) AS n, count(*) AS k FROM j),
agg AS (
  SELECT t.n, t.k,
         sum(pow(j.o - j.w*t.n, 2)/(j.w*t.n)) AS chi2
  FROM j, t GROUP BY t.n, t.k
), zc AS (
  SELECT n, k, chi2, CAST(k - 1 AS DOUBLE) AS nu,
         CASE WHEN k > 1 AND chi2 > 0
              THEN (pow(chi2/(k-1.0), 1.0/3.0)
                    - (1.0 - 2.0/(9.0*(k-1.0))))
                   / sqrt(2.0/(9.0*(k-1.0)))
              ELSE 0.0 END AS z
  FROM agg
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc),
pp AS (
  SELECT n, k, chi2, nu, z,
         (2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))))/2.0 AS half
  FROM ph
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       round(chi2, 6) AS chi2, CAST(nu AS BIGINT) AS dof,
       round(least(greatest(CASE WHEN z >= 0 THEN half
                                 ELSE 1.0 - half END, 0.0), 1.0), 6)
         AS p_value,
       least(greatest(CASE WHEN z >= 0 THEN half
                           ELSE 1.0 - half END, 0.0), 1.0) < 0.001
         AS srm_suspected
FROM pp
"""

    # Same screen (the bh_fdr prefix arithmetic), same rounded screen
    # outputs consumed, same exact even-dof series, same Stouffer sum.
    o["stats_combine_pvalues"] = """
WITH per AS (
  SELECT event_type AS grp, count(value) AS n,
         sum(value) AS s1, sum(value*value) AS s2
  FROM events GROUP BY 1
), tot AS (SELECT sum(n) AS tn, sum(s1) AS ts1, sum(s2) AS ts2 FROM per),
j AS (
  SELECT grp, n, tn - n AS rn, s1/n AS m, (ts1-s1)/(tn-n) AS rm,
         greatest((s2 - s1*(s1/n))/(n-1), 0.0) AS var,
         greatest(((ts2-s2) - (ts1-s1)*((ts1-s1)/(tn-n)))/(tn-n-1), 0.0)
           AS rvar
  FROM per, tot WHERE tn - n > 0
), zc AS (
  SELECT grp,
         CASE WHEN var/n + rvar/rn > 0
              THEN abs(m - rm)/sqrt(var/n + rvar/rn) ELSE 0.0 END AS z
  FROM j
), ph AS (SELECT grp, z, 1.0/(1.0 + 0.2316419*z) AS tt FROM zc),
scr AS (
  SELECT grp, round(z, 6) AS z,
         round(least(2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 1.0), 6) AS p
  FROM ph
), comb AS (
  SELECT count(*) AS k,
         sum(-2.0*ln(greatest(p, 1e-300))) AS x,
         sum(z)/sqrt(count(*)) AS zs
  FROM scr WHERE p IS NOT NULL
), ser AS (
  SELECT k, x, zs,
         unnest(list_transform(range(0, k),
                i -> pow(x/2.0, i)/factorial(CAST(i AS INT)))) AS term
  FROM comb
), fis AS (SELECT k, x, zs, sum(term) AS s FROM ser GROUP BY k, x, zs),
sph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(zs)) AS tt FROM fis)
SELECT CAST(k AS BIGINT) AS k,
       round(x, 6) AS fisher_x2,
       round(least(greatest(exp(-x/2.0)*s, 0.0), 1.0), 6) AS fisher_p,
       round(zs, 6) AS stouffer_z,
       round(least(greatest(2.0*(exp(-zs*zs/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 0.0), 1.0), 6)
         AS stouffer_p
FROM sph
"""

    # Same one-pass moments, same Welch SE, same two one-sided tails
    # through the shared Phi polynomial, same max-p verdict.
    o["stats_tost"] = """
WITH agg AS (
  SELECT sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN event_type = 'view' THEN value END) AS sa,
         sum(CASE WHEN event_type = 'click' THEN value END) AS sb,
         sum(CASE WHEN event_type = 'view' THEN value*value END) AS qa,
         sum(CASE WHEN event_type = 'click' THEN value*value END) AS qb
  FROM events
  WHERE event_type IN ('view', 'click') AND value IS NOT NULL
), c AS (
  SELECT na, nb, sa/na AS ma, sb/nb AS mb,
         greatest((qa - sa*(sa/na))/(na-1), 0.0) AS va,
         greatest((qb - sb*(sb/nb))/(nb-1), 0.0) AS vb
  FROM agg
), z AS (
  SELECT na, nb, ma, mb, ma - mb AS d,
         CASE WHEN sqrt(va/na + vb/nb) > 0
              THEN (ma - mb + 5.0)/sqrt(va/na + vb/nb) END AS zl,
         CASE WHEN sqrt(va/na + vb/nb) > 0
              THEN (5.0 - (ma - mb))/sqrt(va/na + vb/nb) END AS zu
  FROM c
), pl AS (
  SELECT *, 1.0/(1.0 + 0.2316419*abs(zl)) AS tl,
         1.0/(1.0 + 0.2316419*abs(zu)) AS tu
  FROM z
), pp AS (
  SELECT na, nb, ma, mb, d, zl, zu,
         (2.0*(exp(-zl*zl/2.0)/2.5066282746310002)
           *(tl*(0.319381530 + tl*(-0.356563782 + tl*(1.781477937
              + tl*(-1.821255978 + tl*1.330274429))))))/2.0 AS hl,
         (2.0*(exp(-zu*zu/2.0)/2.5066282746310002)
           *(tu*(0.319381530 + tu*(-0.356563782 + tu*(1.781477937
              + tu*(-1.821255978 + tu*1.330274429))))))/2.0 AS hu
  FROM pl
), pt AS (
  SELECT na, nb, ma, mb, d, zl, zu,
         least(greatest(greatest(
           CASE WHEN zl >= 0 THEN hl ELSE 1.0 - hl END,
           CASE WHEN zu >= 0 THEN hu ELSE 1.0 - hu END), 0.0), 1.0) AS p
  FROM pp
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round(d, 6) AS diff, 5.0 AS margin,
       round(zl, 6) AS z_lower, round(zu, 6) AS z_upper,
       round(p, 6) AS p_tost, p < 0.05 AS equivalent
FROM pt
"""

    # Same daily rollup, same (value, day) tie-broken ranks, same
    # consecutive-rank jump sum.
    o["stats_xi_daily"] = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, sum(value) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), r AS (
  SELECT day, row_number() OVER (ORDER BY x ASC, day ASC) AS rk
  FROM daily
), nx AS (
  SELECT rk, lead(rk) OVER (ORDER BY day) AS rn FROM r
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(CASE WHEN count(*) > 1 THEN
         1.0 - 3.0*sum(abs(rn - rk))
               /(CAST(count(*) AS DOUBLE)*count(*) - 1) END, 6) AS xi
FROM nx
"""

    # Same distinct-id passes, same full-outer overlap count, same
    # Lincoln/Chapman identities.
    o["events_capture_recapture"] = """
WITH a AS (
  SELECT DISTINCT user_id AS id FROM events
  WHERE user_id IS NOT NULL AND CAST(ts AS DATE) <= DATE '2024-01-15'
), b AS (
  SELECT DISTINCT user_id AS id FROM events
  WHERE user_id IS NOT NULL AND CAST(ts AS DATE) > DATE '2024-01-15'
), j AS (
  SELECT a.id AS ia, b.id AS ib FROM a FULL OUTER JOIN b ON a.id = b.id
), agg AS (
  SELECT sum(CASE WHEN ia IS NOT NULL THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN ib IS NOT NULL THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN ia IS NOT NULL AND ib IS NOT NULL
                  THEN 1 ELSE 0 END) AS m
  FROM j
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(m AS BIGINT) AS n_both,
       round(CASE WHEN m > 0
                  THEN CAST(na AS DOUBLE)*nb/m END, 6) AS lincoln_n,
       round((na + 1.0)*(nb + 1.0)/(m + 1.0) - 1.0, 6) AS chapman_n
FROM agg
"""

    # Same symmetrized shells, same first-reach-wins distances.
    o["graph_bfs"] = """
WITH e0 AS (
  SELECT DISTINCT a, b FROM (
    SELECT o_custkey % 100 AS a, o_orderkey % 100 AS b FROM orders
    UNION ALL
    SELECT o_orderkey % 100 AS a, o_custkey % 100 AS b FROM orders)
  WHERE a <> b
), s0 AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT)),
                                (CAST(7 AS BIGINT))) t(node)),
r1 AS (
  SELECT DISTINCT e0.b AS node FROM e0 JOIN s0 ON e0.a = s0.node
  WHERE e0.b NOT IN (SELECT node FROM s0)
), r2 AS (
  SELECT DISTINCT e0.b AS node FROM e0 JOIN r1 ON e0.a = r1.node
  WHERE e0.b NOT IN (SELECT node FROM s0)
    AND e0.b NOT IN (SELECT node FROM r1)
)
SELECT node, 0 AS dist FROM s0
UNION ALL SELECT node, 1 FROM r1
UNION ALL SELECT node, 2 FROM r2
"""

    # Same md5-exact duplicate criterion, same token convention, same
    # (count desc, value asc nulls last) top-share argmins.
    o["curation_dataset_card"] = f"""
WITH base AS (
  SELECT count(*) AS n_docs,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS n_null_text,
         count(DISTINCT coalesce(md5(text), '__null_text__'))
           AS n_distinct_texts,
         sum(len({_SQL_TOKS})) AS total_tokens
  FROM documents
), langs AS (SELECT lang AS l, count(*) AS c FROM documents GROUP BY 1),
top_lang AS (
  SELECT l, c FROM langs ORDER BY c DESC, l ASC NULLS LAST LIMIT 1
), nl AS (SELECT count(*) AS n_langs FROM langs),
srcs AS (SELECT source AS s, count(*) AS cs FROM documents GROUP BY 1),
top_src AS (
  SELECT s, cs FROM srcs ORDER BY cs DESC, s ASC NULLS LAST LIMIT 1
), ns AS (SELECT count(*) AS n_sources FROM srcs)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_null_text AS BIGINT) AS n_null_text,
       CAST(n_distinct_texts AS BIGINT) AS n_distinct_texts,
       round(1.0 - n_distinct_texts/CAST(n_docs AS DOUBLE), 6)
         AS exact_dup_rate,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       round(total_tokens/CAST(n_docs AS DOUBLE), 6) AS mean_tokens,
       CAST(n_langs AS BIGINT) AS n_langs,
       l AS top_lang,
       round(c/CAST(n_docs AS DOUBLE), 6) AS top_lang_share,
       CAST(n_sources AS BIGINT) AS n_sources,
       s AS top_source,
       round(cs/CAST(n_docs AS DOUBLE), 6) AS top_source_share
FROM base, top_lang, nl, top_src, ns
"""

    # Same top-df vocabulary, same vocab-restricted distinct token
    # sets, same greedy (gain desc, id asc) steps unrolled.
    _mc_k = 5
    _mc_ctes = []
    for _i in range(1, _mc_k + 1):
        if _i == 1:
            _mc_ctes.append(
                "step1 AS (SELECT d.id, d.dt, CAST(len(d.dt) AS BIGINT)"
                " AS gain FROM dtt d ORDER BY gain DESC, d.id ASC LIMIT 1)"
            )
            _mc_ctes.append("cov1 AS (SELECT s.dt AS cov FROM step1 s)")
        else:
            _mc_ctes.append(
                f"step{_i} AS (SELECT d.id, d.dt, CAST(len(list_filter("
                f"d.dt, x -> NOT list_contains(c.cov, x))) AS BIGINT) AS "
                f"gain FROM dtt d, cov{_i - 1} c ORDER BY gain DESC, "
                f"d.id ASC LIMIT 1)"
            )
            _mc_ctes.append(
                f"cov{_i} AS (SELECT list_distinct(list_concat(c.cov, "
                f"s.dt)) AS cov FROM cov{_i - 1} c, step{_i} s)"
            )
    _mc_rows = "\nUNION ALL ".join(
        f"SELECT {_i} AS sel_order, s.id AS doc_id, s.gain AS gain, "
        f"CAST(len(c.cov) AS BIGINT) AS covered_total, "
        f"round(len(c.cov)/(SELECT CAST(len(v) AS DOUBLE) FROM vl), 6) "
        f"AS coverage_frac FROM step{_i} s, cov{_i} c "
        f"WHERE s.gain > 0"
        for _i in range(1, _mc_k + 1)
    )
    o["sample_maxcover"] = f"""
WITH t0 AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
t AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_distinct(list_transform(range(1, len(toks)),
                     i -> array_to_string(toks[i:i+1], ' ')))
              ELSE [] END AS units
  FROM t0
), vocab AS (
  SELECT __w FROM (
    SELECT __w, count(*) AS df FROM (
      SELECT doc_id, unnest(units) AS __w FROM t)
    GROUP BY 1)
  ORDER BY df DESC, __w ASC LIMIT 500
), vl AS (SELECT list(__w) AS v FROM vocab),
dtt AS (
  SELECT doc_id AS id,
         list_filter(units, x -> list_contains(v, x)) AS dt
  FROM t, vl
), {", ".join(_mc_ctes)}
{_mc_rows}
"""

    # Same acf_daily estimates consumed at their published 6-decimal
    # rounding, same n(n+2) sum, same Wilson-Hilferty tail.
    o["stats_ljung_box"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), mom AS (
  SELECT max(m) AS m, sum((v - m)*(v - m)) AS ss FROM (
    SELECT v, avg(v) OVER () AS m FROM daily
  )
), lagged AS (
  SELECT d + to_days(CAST(lag AS INTEGER)) AS d, lag, v AS v_lag
  FROM daily CROSS JOIN (SELECT unnest(range(1, 8)) AS lag)
), pairs AS (
  SELECT lagged.lag, daily.v, lagged.v_lag
  FROM daily JOIN lagged USING (d)
), acfs AS (
  SELECT lag,
         round(CASE WHEN max(ss) > 0
                    THEN sum((v - max_m)*(v_lag - max_m))/max(ss)
                    ELSE 0.0 END, 6) AS acf
  FROM (SELECT pairs.*, mom.m AS max_m, mom.ss FROM pairs CROSS JOIN mom)
  GROUP BY lag
), nd AS (
  SELECT count(DISTINCT CAST(ts AS DATE)) AS n FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
), agg AS (
  SELECT max(n) AS n,
         max(n)*(max(n) + 2.0)
           * sum(acf*acf/(CAST(n AS DOUBLE) - lag)) AS q
  FROM acfs CROSS JOIN nd
), zc AS (
  SELECT n, q,
         CASE WHEN q > 0
              THEN (pow(q/7.0, 1.0/3.0) - (1.0 - 2.0/(9.0*7.0)))
                   / sqrt(2.0/(9.0*7.0))
              ELSE 0.0 END AS z
  FROM agg
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc),
pp AS (
  SELECT n, q, z,
         (2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))))/2.0 AS half
  FROM ph
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(7 AS BIGINT) AS lags,
       round(q, 6) AS q_stat, CAST(7 AS BIGINT) AS dof,
       round(least(greatest(CASE WHEN z >= 0 THEN half
                                 ELSE 1.0 - half END, 0.0), 1.0), 6)
         AS p_value
FROM pp
"""

    # Same weekly periods from per-user first day, same zero-rate
    # exclusion, same closed-form log-linear identities.
    o["events_retention_halflife"] = """
WITH base AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), first AS (SELECT u, min(d) AS d0 FROM base GROUP BY 1),
cohort AS (SELECT count(*) AS n_users FROM first),
bounds AS (SELECT max(d) AS dmax FROM base),
hist AS (
  SELECT least(CAST(floor(date_diff('day', d0, dmax)/7.0) AS BIGINT),
               4) AS mp,
         count(*) AS c
  FROM first CROSS JOIN bounds GROUP BY 1
),
per AS (
  SELECT p, count(*) AS up FROM (
    SELECT DISTINCT base.u,
           CAST(floor(date_diff('day', d0, d)/7.0) AS BIGINT) AS p
    FROM base JOIN first ON base.u = first.u)
  WHERE p <= 4 GROUP BY 1
), obs AS (
  SELECT p, sum(c) AS obs
  FROM (SELECT DISTINCT p FROM per) CROSS JOIN hist
  WHERE mp >= p GROUP BY 1
), rates AS (
  SELECT CAST(p AS DOUBLE) AS x,
         ln(CAST(up AS DOUBLE)/CAST(obs AS DOUBLE)) AS y, n_users
  FROM per JOIN obs USING (p) CROSS JOIN cohort
  WHERE up > 0 AND obs > 0
), agg AS (
  SELECT max(n_users) AS n_users, count(*) AS k,
         sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
         sum(y*y) AS syy, sum(x*y) AS sxy
  FROM rates
), c AS (
  SELECT n_users, k,
         CAST(k AS DOUBLE)*sxx - sx*sx AS dx,
         CAST(k AS DOUBLE)*syy - sy*sy AS dy,
         CAST(k AS DOUBLE)*sxy - sx*sy AS num,
         sx, sy
  FROM agg
), f AS (
  SELECT n_users, k,
         CASE WHEN dx > 0 THEN num/dx END AS b,
         dx, dy, num, sx, sy
  FROM c
)
SELECT CAST(n_users AS BIGINT) AS n_users,
       CAST(k AS BIGINT) AS n_periods,
       round(b, 6) AS slope,
       round((sy - b*sx)/CAST(k AS DOUBLE), 6) AS intercept,
       round(CASE WHEN b < 0 THEN -ln(2.0)/b END, 6)
         AS halflife_periods,
       round(CASE WHEN dx > 0 AND dy > 0
                  THEN num*num/(dx*dy) END, 6) AS r2
FROM f
"""

    # Streaming twin of the SRM guardrail: the ledger's per-user set
    # semantics make the fold equal to a distinct over ALL events'
    # users; same md5 assignment, same chi-squared vs 1/1, same
    # Wilson-Hilferty tail.
    o["stream_ab_srm"] = """
WITH per_user AS (
  SELECT DISTINCT user_id FROM events
), counts AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 15)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         count(*) AS o
  FROM per_user GROUP BY 1
), ex AS (
  SELECT * FROM (VALUES ('A', 0.5), ('B', 0.5)) e(variant, w)
), j AS (
  SELECT ex.variant, ex.w, coalesce(counts.o, 0) AS o
  FROM ex LEFT JOIN counts USING (variant)
), t AS (SELECT sum(o) AS n, count(*) AS k FROM j),
agg AS (
  SELECT t.n, t.k,
         sum(pow(j.o - j.w*t.n, 2)/(j.w*t.n)) AS chi2
  FROM j, t GROUP BY t.n, t.k
), zc AS (
  SELECT n, k, chi2, CAST(k - 1 AS DOUBLE) AS nu,
         CASE WHEN k > 1 AND chi2 > 0
              THEN (pow(chi2/(k-1.0), 1.0/3.0)
                    - (1.0 - 2.0/(9.0*(k-1.0))))
                   / sqrt(2.0/(9.0*(k-1.0)))
              ELSE 0.0 END AS z
  FROM agg
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc),
pp AS (
  SELECT n, k, chi2, nu, z,
         (2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))))/2.0 AS half
  FROM ph
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       round(chi2, 6) AS chi2, CAST(nu AS BIGINT) AS dof,
       round(least(greatest(CASE WHEN z >= 0 THEN half
                                 ELSE 1.0 - half END, 0.0), 1.0), 6)
         AS p_value,
       least(greatest(CASE WHEN z >= 0 THEN half
                           ELSE 1.0 - half END, 0.0), 1.0) < 0.001
         AS srm_suspected
FROM pp
"""

    # Same langid prediction, same paired correctness, same
    # continuity-corrected discordant chi2, exact chi2(1) tail.
    o["stats_mcnemar"] = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang, {_kp_hits} FROM t),
r AS (
  SELECT lang,
         CASE WHEN list_max({_kp_arr}) = 0 THEN 'und'
              ELSE {_kp_langs}[list_position({_kp_arr},
                                             list_max({_kp_arr}))]
         END AS pred
  FROM h
), paired AS (
  SELECT CASE WHEN pred = lang THEN 1 ELSE 0 END AS a,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b
  FROM r WHERE lang IS NOT NULL
), agg AS (
  SELECT count(*) AS n,
         sum(a*b) AS rr, sum((1-a)*(1-b)) AS ww,
         sum(a*(1-b)) AS ao, sum((1-a)*b) AS bo
  FROM paired
), c AS (
  SELECT n, rr, ww, ao, bo,
         CASE WHEN ao + bo > 0
              THEN pow(greatest(abs(CAST(ao - bo AS DOUBLE)) - 1, 0.0), 2)
                   / (ao + bo) END AS chi2
  FROM agg
), z AS (SELECT *, sqrt(coalesce(chi2, 0.0)) AS zz FROM c),
ph AS (SELECT *, 1.0/(1.0 + 0.2316419*zz) AS tt FROM z)
SELECT CAST(n AS BIGINT) AS n, CAST(rr AS BIGINT) AS both_right,
       CAST(ww AS BIGINT) AS both_wrong, CAST(ao AS BIGINT) AS a_only,
       CAST(bo AS BIGINT) AS b_only, round(chi2, 6) AS chi2,
       round(CASE WHEN chi2 IS NOT NULL THEN
         least(greatest(2.0*(exp(-zz*zz/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 0.0), 1.0)
         END, 6) AS p_value
FROM ph
"""

    # Same daily rollup, same zero-change drop, same run-boundary
    # count, same Wald-Wolfowitz moments.
    o["stats_runs_daily"] = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, sum(value) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), nd AS (SELECT count(*) AS n_days FROM daily),
chg AS (
  SELECT day, x - lag(x) OVER (ORDER BY day) AS d FROM daily
), signs AS (
  SELECT day, sign(d) AS s FROM chg WHERE d IS NOT NULL AND d <> 0
), runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                OR lag(s) OVER (ORDER BY day) <> s
              THEN 1 ELSE 0 END AS new_run
  FROM signs
), agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS np,
         sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS nm,
         sum(new_run) AS r
  FROM runs
), c AS (
  SELECT n, np, nm, r,
         2.0*np*nm/CAST(n AS DOUBLE) + 1 AS mu
  FROM agg
), zc AS (
  SELECT n, np, nm, r, mu,
         CASE WHEN np > 0 AND nm > 0 AND n > 1
                AND (mu - 1)*(mu - 2)/(n - 1.0) > 0
              THEN (r - mu)/sqrt((mu - 1)*(mu - 2)/(n - 1.0)) END AS z
  FROM c
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc)
SELECT (SELECT CAST(n_days AS BIGINT) FROM nd) AS n_days,
       CAST(n AS BIGINT) AS n_changes, CAST(r AS BIGINT) AS n_runs,
       round(mu, 6) AS mu, round(z, 6) AS z,
       round(CASE WHEN z IS NOT NULL THEN
         least(greatest(2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 0.0), 1.0)
         END, 6) AS p_value
FROM ph
"""

    # Same calendar lag pairing, same centered-sum Cramer fits, same
    # nested-SSE F, same Paulson tail.
    o["stats_granger_daily"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, sum(value) AS y,
         CAST(count(*) AS DOUBLE) AS c
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), pairs AS (
  SELECT a.y, b.y AS x1, b.c AS x2
  FROM daily a JOIN daily b ON a.d = b.d + to_days(1)
), agg AS (
  SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
         sum(x1*x1) AS s11, sum(x2*x2) AS s22, sum(x1*x2) AS s12,
         sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(y*y) AS syy
  FROM pairs
), c AS (
  SELECT n,
         s11 - s1*s1/CAST(n AS DOUBLE) AS cxx1,
         s22 - s2*s2/CAST(n AS DOUBLE) AS cxx2,
         s12 - s1*s2/CAST(n AS DOUBLE) AS cx12,
         s1y - s1*sy/CAST(n AS DOUBLE) AS cx1y,
         s2y - s2*sy/CAST(n AS DOUBLE) AS cx2y,
         syy - sy*sy/CAST(n AS DOUBLE) AS cyy
  FROM agg
), f0 AS (
  SELECT n, cxx1, cx1y, cyy,
         cxx1*cxx2 - cx12*cx12 AS det,
         cx1y, cx2y, cx12, cxx2
  FROM c
), b AS (
  SELECT n,
         CASE WHEN n > 3 AND det > 0
              THEN (cx1y*cxx2 - cx2y*cx12)/det END AS b1,
         CASE WHEN n > 3 AND det > 0
              THEN (cx2y*cxx1 - cx1y*cx12)/det END AS b2,
         cx1y, cx2y, cyy, cxx1
  FROM f0
), sse AS (
  SELECT n, b1, b2,
         greatest(cyy - b1*cx1y - b2*cx2y,
                  1e-12*greatest(cyy, 0.0)) AS sseu,
         CASE WHEN cxx1 > 0 THEN cyy - (cx1y/cxx1)*cx1y END AS sser
  FROM b
), fv AS (
  SELECT n, b1, b2,
         CASE WHEN sseu > 0
              THEN greatest((sser - sseu)/(sseu/(CAST(n AS DOUBLE) - 3)),
                            0.0)
         END AS f
  FROM sse
), zc AS (
  SELECT n, b1, b2, f,
         ((1.0 - 2.0/(9.0*(CAST(n AS DOUBLE) - 3)))*pow(f, 1.0/3.0)
          - (1.0 - 2.0/9.0))
         / sqrt(2.0/9.0 + pow(f, 2.0/3.0)*2.0/(9.0*(CAST(n AS DOUBLE) - 3)))
           AS z
  FROM fv
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc),
pp AS (
  SELECT n, b1, b2, f,
         CASE WHEN f IS NOT NULL THEN
           least(greatest(CASE WHEN z >= 0 THEN
             (2.0*(exp(-z*z/2.0)/2.5066282746310002)
               *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
                  + tt*(-1.821255978 + tt*1.330274429))))))/2.0
           ELSE 1.0 - (2.0*(exp(-z*z/2.0)/2.5066282746310002)
               *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
                  + tt*(-1.821255978 + tt*1.330274429))))))/2.0
           END, 0.0), 1.0) END AS p
  FROM ph
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round(b1, 6) AS b_lag_value,
       round(b2, 6) AS b_lag_count,
       round(f, 6) AS f_stat,
       CAST(n - 3 AS BIGINT) AS dof2,
       round(p, 6) AS p_value,
       p < 0.05 AS predictive
FROM pp
"""

    # Same acf consumption at published rounding, same unrolled
    # Durbin-Levinson levels.
    o["stats_pacf_daily"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), mom AS (
  SELECT max(m) AS m, sum((v - m)*(v - m)) AS ss FROM (
    SELECT v, avg(v) OVER () AS m FROM daily
  )
), lagged AS (
  SELECT d + to_days(CAST(lag AS INTEGER)) AS d, lag, v AS v_lag
  FROM daily CROSS JOIN (SELECT unnest(range(1, 4)) AS lag)
), pairs AS (
  SELECT lagged.lag, daily.v, lagged.v_lag
  FROM daily JOIN lagged USING (d)
), acfs AS (
  SELECT lag,
         round(CASE WHEN max(ss) > 0
                    THEN sum((v - max_m)*(v_lag - max_m))/max(ss)
                    ELSE 0.0 END, 6) AS acf
  FROM (SELECT pairs.*, mom.m AS max_m, mom.ss FROM pairs CROSS JOIN mom)
  GROUP BY lag
), piv AS (
  SELECT max(CASE WHEN lag = 1 THEN acf END) AS r1,
         max(CASE WHEN lag = 2 THEN acf END) AS r2,
         max(CASE WHEN lag = 3 THEN acf END) AS r3
  FROM acfs
), dl AS (
  SELECT r1, r2, r3,
         r1 AS p1,
         CASE WHEN 1 - r1*r1 <> 0
              THEN (r2 - r1*r1)/(1 - r1*r1) END AS p2
  FROM piv
), dl2 AS (
  SELECT *, r1*(1 - p2) AS p21 FROM dl
), dl3 AS (
  SELECT *,
         CASE WHEN 1 - p21*r1 - p2*r2 <> 0
              THEN (r3 - p21*r2 - p2*r1)/(1 - p21*r1 - p2*r2) END AS p3
  FROM dl2
)
SELECT 1 AS lag, r1 AS acf, round(p1, 6) AS pacf FROM dl3
UNION ALL SELECT 2, r2, round(p2, 6) FROM dl3
UNION ALL SELECT 3, r3, round(p3, 6) FROM dl3
"""

    # Same explode/tf cells, same zero-inclusive moment identities,
    # same (total desc, term asc) top-k.
    o["text_burstiness"] = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tf AS (
  SELECT doc_id, __w, count(*) AS tf FROM (
    SELECT doc_id, unnest(toks) AS __w FROM t) GROUP BY 1, 2
), per AS (
  SELECT __w AS term, sum(tf) AS tot, count(*) AS df,
         sum(tf*tf) AS tf2,
         sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS rep
  FROM tf GROUP BY 1
), nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
SELECT term, CAST(tot AS BIGINT) AS total_tf,
       CAST(df AS BIGINT) AS doc_freq,
       round(tot/CAST(n AS DOUBLE), 6) AS mean_tf,
       round(CASE WHEN tot/CAST(n AS DOUBLE) > 0 THEN
         (tf2/CAST(n AS DOUBLE)
          - (tot/CAST(n AS DOUBLE))*(tot/CAST(n AS DOUBLE)))
         / (tot/CAST(n AS DOUBLE)) END, 6) AS vmr,
       round(rep/CAST(df AS DOUBLE), 6) AS adaptation
FROM per CROSS JOIN nd
ORDER BY total_tf DESC, term ASC LIMIT 20
"""

    # Same moment pass, same pooled-SD/J-correction/SE identities.
    o["stats_effect_size"] = """
WITH agg AS (
  SELECT sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN event_type = 'view' THEN value END) AS sa,
         sum(CASE WHEN event_type = 'purchase' THEN value END) AS sb,
         sum(CASE WHEN event_type = 'view' THEN value*value END) AS qa,
         sum(CASE WHEN event_type = 'purchase' THEN value*value END) AS qb
  FROM events
  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
), c AS (
  SELECT na, nb, sa/na AS ma, sb/nb AS mb,
         greatest(qa - sa*(sa/na), 0.0) AS ssa,
         greatest(qb - sb*(sb/nb), 0.0) AS ssb,
         CAST(na + nb - 2 AS DOUBLE) AS dof
  FROM agg
), d0 AS (
  SELECT na, nb, ma, mb,
         CASE WHEN dof > 0 THEN sqrt((ssa + ssb)/dof) END AS sp, dof
  FROM c
), d1 AS (
  SELECT *, CASE WHEN sp > 0 THEN (ma - mb)/sp END AS d FROM d0
), d2 AS (
  SELECT *,
         sqrt((na + nb)/(CAST(na AS DOUBLE)*nb)
              + d*d/(2.0*(na + nb))) AS se_d
  FROM d1
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round(sp, 6) AS pooled_sd,
       round(d, 6) AS cohens_d,
       round(d*(1 - 3.0/(4*dof - 1)), 6) AS hedges_g,
       round(d - 1.959963984540054*se_d, 6) AS d_ci_lo,
       round(d + 1.959963984540054*se_d, 6) AS d_ci_hi
FROM d2
"""

    # Same moments, same Welch-form sizing, same z grid.
    o["stats_mean_mde"] = """
WITH agg AS (
  SELECT sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN event_type = 'view' THEN value END) AS sa,
         sum(CASE WHEN event_type = 'purchase' THEN value END) AS sb,
         sum(CASE WHEN event_type = 'view' THEN value*value END) AS qa,
         sum(CASE WHEN event_type = 'purchase' THEN value*value END) AS qb
  FROM events
  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
), c AS (
  SELECT na, nb, sa/na AS ma, sb/nb AS mb,
         greatest((qa - sa*(sa/na))/(na - 1), 0.0) AS va,
         greatest((qb - sb*(sb/nb))/(nb - 1), 0.0) AS vb
  FROM agg
), s AS (
  SELECT na, nb, ma, mb, sqrt(va/na + vb/nb) AS se FROM c
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round(se, 6) AS se,
       round((1.959963984540054 + 0.8416212335729143)*se, 6) AS mde_abs,
       round(CASE WHEN abs(ma) > 0
                  THEN (1.959963984540054 + 0.8416212335729143)*se/abs(ma)
             END, 6) AS mde_rel
FROM s
"""

    # Same per-user pre/post sums, same md5 assignment, same pooled
    # theta, same adjusted-moment identities.
    o["events_cuped"] = """
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                  THEN value ELSE 0.0 END) AS pre,
         sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                  THEN value ELSE 0.0 END) AS post
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), units AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 15)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS v,
         pre AS x, post AS y
  FROM per_user
), per AS (
  SELECT v, count(*) AS n, sum(y) AS sy, sum(x) AS sx,
         sum(y*y) AS syy, sum(x*x) AS sxx, sum(x*y) AS sxy
  FROM units GROUP BY 1
), wide AS (
  SELECT max(CASE WHEN v = 'A' THEN n END) AS an,
         max(CASE WHEN v = 'A' THEN sy END) AS asy,
         max(CASE WHEN v = 'A' THEN sx END) AS asx,
         max(CASE WHEN v = 'A' THEN syy END) AS asyy,
         max(CASE WHEN v = 'A' THEN sxx END) AS asxx,
         max(CASE WHEN v = 'A' THEN sxy END) AS asxy,
         max(CASE WHEN v = 'B' THEN n END) AS bn,
         max(CASE WHEN v = 'B' THEN sy END) AS bsy,
         max(CASE WHEN v = 'B' THEN sx END) AS bsx,
         max(CASE WHEN v = 'B' THEN syy END) AS bsyy,
         max(CASE WHEN v = 'B' THEN sxx END) AS bsxx,
         max(CASE WHEN v = 'B' THEN sxy END) AS bsxy
  FROM per
), t AS (
  SELECT *, CAST(an + bn AS DOUBLE) AS N,
         asy + bsy AS SY, asx + bsx AS SX, asyy + bsyy AS SYY,
         asxx + bsxx AS SXX, asxy + bsxy AS SXY
  FROM wide
), th AS (
  SELECT *,
         CASE WHEN SXX - SX*SX/N > 0
              THEN (SXY - SX*SY/N)/(SXX - SX*SX/N) ELSE 0.0 END AS theta,
         SX/N AS xbar
  FROM t
), arms AS (
  SELECT *,
         (asy - theta*asx)/an AS mra,
         (bsy - theta*bsx)/bn AS mrb
  FROM th
), va AS (
  SELECT *,
         greatest((asyy - 2*theta*asxy + theta*theta*asxx
                   - an*mra*mra)/(an - 1), 0.0) AS vara,
         greatest((bsyy - 2*theta*bsxy + theta*theta*bsxx
                   - bn*mrb*mrb)/(bn - 1), 0.0) AS varb,
         mra + theta*xbar AS ma, mrb + theta*xbar AS mb
  FROM arms
), zt AS (
  SELECT *,
         CASE WHEN sqrt(vara/an + varb/bn) > 0
              THEN (ma - mb)/sqrt(vara/an + varb/bn) END AS z,
         (SY - theta*SX)/N AS mz
  FROM va
), vr AS (
  SELECT *,
         greatest((SYY - 2*theta*SXY + theta*theta*SXX - N*mz*mz)
                  /(N - 1), 0.0) AS varz,
         greatest((SYY - SY*SY/N)/(N - 1), 0.0) AS vary
  FROM zt
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM vr)
SELECT CAST(an AS BIGINT) AS n_a, CAST(bn AS BIGINT) AS n_b,
       round(theta, 6) AS theta,
       round(ma, 6) AS mean_adj_a, round(mb, 6) AS mean_adj_b,
       round(ma - mb, 6) AS diff,
       round(z, 6) AS z,
       round(CASE WHEN z IS NOT NULL THEN
         least(greatest(2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 0.0), 1.0)
         END, 6) AS p_value,
       round(CASE WHEN vary > 0 THEN 1 - varz/vary END, 6)
         AS var_reduction
FROM ph
"""

    # Same Welch-form V, same mixture-likelihood closed form.
    o["events_msprt"] = """
WITH agg AS (
  SELECT sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN event_type = 'view' THEN value END) AS sa,
         sum(CASE WHEN event_type = 'click' THEN value END) AS sb,
         sum(CASE WHEN event_type = 'view' THEN value*value END) AS qa,
         sum(CASE WHEN event_type = 'click' THEN value*value END) AS qb
  FROM events
  WHERE event_type IN ('view', 'click') AND value IS NOT NULL
), c AS (
  SELECT na, nb, sa/na AS ma, sb/nb AS mb,
         greatest((qa - sa*(sa/na))/(na - 1), 0.0) AS va,
         greatest((qb - sb*(sb/nb))/(nb - 1), 0.0) AS vb
  FROM agg
), v AS (
  SELECT na, nb, ma - mb AS d, va/na + vb/nb AS V FROM c
), l AS (
  SELECT na, nb, d, V,
         CASE WHEN V > 0
              THEN sqrt(V/(V + 25.0))
                   * exp(d*d*25.0/(2.0*V*(V + 25.0))) END AS lam
  FROM v
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(d, 6) AS diff, round(sqrt(V), 6) AS se,
       round(lam, 6) AS lambda,
       round(CASE WHEN lam IS NOT NULL
                  THEN least(1.0/lam, 1.0) END, 6) AS p_always_valid,
       CASE WHEN lam IS NOT NULL
            THEN least(1.0/lam, 1.0) < 0.05 END AS reject_05
FROM l
"""

    # Same pooled (source, term) counts, same sum-tf^2 identity.
    o["text_yule_k"] = f"""
WITH t AS (SELECT source, {_SQL_TOKS} AS toks FROM documents),
tf AS (
  SELECT source AS g, __w, count(*) AS tf FROM (
    SELECT source, unnest(toks) AS __w FROM t) GROUP BY 1, 2
), agg AS (
  SELECT g, sum(tf) AS n, count(*) AS types, sum(tf*tf) AS s2
  FROM tf GROUP BY 1
)
SELECT g AS "group", CAST(n AS BIGINT) AS n_tokens,
       CAST(types AS BIGINT) AS n_types,
       round(CASE WHEN n > 1
                  THEN 1e4*(s2 - CAST(n AS DOUBLE))
                       /(CAST(n AS DOUBLE)*n) END, 6) AS yule_k
FROM agg
"""

    # Same positive filter, same per-group (n, sum, sum x ln x)
    # moments, same closed-form Theil identities.
    o["curation_theil"] = f"""
WITH t AS (
  SELECT source AS g, CAST(len({_SQL_TOKS}) AS DOUBLE) AS x
  FROM documents
), base AS (SELECT g, x FROM t WHERE x > 0),
per AS (
  SELECT g, count(*) AS n, sum(x) AS sx, sum(x*ln(x)) AS sxl
  FROM base GROUP BY 1
), tot AS (
  SELECT sum(n) AS tn, sum(sx) AS tsx, sum(sxl) AS tsxl FROM per
), staged AS (
  SELECT g, n, sx/tsx AS share, sx/n AS mug,
         sxl/sx - ln(sx/n) AS tg,
         tsxl/tsx - ln(tsx/tn) AS tt,
         (sx/tsx)*ln((sx/n)/(tsx/tn)) AS bterm,
         (sx/tsx)*(sxl/sx - ln(sx/n)) AS wterm
  FROM per, tot
), decomp AS (SELECT sum(bterm) AS tb, sum(wterm) AS tw FROM staged)
SELECT g AS "group", CAST(n AS BIGINT) AS n,
       round(share, 6) AS value_share, round(mug, 6) AS mean_value,
       round(tg, 6) AS theil_within_g,
       round(tt, 6) AS theil_total,
       round(tb, 6) AS theil_between,
       round(tw, 6) AS theil_within
FROM staged, decomp
"""

    # Same stub union, same sorted-rank Gini formula.
    o["graph_degree_gini"] = """
WITH e AS (
  SELECT DISTINCT least(o_custkey % 100, o_orderkey % 100) AS a,
                  greatest(o_custkey % 100, o_orderkey % 100) AS b
  FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
), g AS (
  SELECT 'node' AS dimension, n AS grp, count(*) AS cnt FROM (
    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY 2
), r AS (
  SELECT dimension, cnt,
         row_number() OVER (PARTITION BY dimension
                            ORDER BY cnt ASC, grp ASC) AS r
  FROM g
)
SELECT dimension, CAST(count(*) AS BIGINT) AS n_groups,
       round(2.0 * sum(r * cnt) / (count(*) * sum(cnt))
             - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) AS gini
FROM r GROUP BY dimension
"""

    # Same symmetrize/dedup, same tail log-sum, same MLE identities.
    o["graph_powerlaw"] = """
WITH e0 AS (
  SELECT DISTINCT a, b FROM (
    SELECT o_custkey % 100 AS a, o_orderkey % 100 AS b FROM orders
    UNION ALL
    SELECT o_orderkey % 100 AS a, o_custkey % 100 AS b FROM orders)
  WHERE a <> b
), deg AS (SELECT a, count(*) AS d FROM e0 GROUP BY 1),
agg AS (
  SELECT count(*) AS n_nodes,
         sum(CASE WHEN d >= 20 THEN 1 ELSE 0 END) AS n_tail,
         sum(CASE WHEN d >= 20 THEN ln(CAST(d AS DOUBLE)/19.5)
                  ELSE 0.0 END) AS ls
  FROM deg
), c AS (
  SELECT n_nodes, n_tail,
         CASE WHEN n_tail > 0 AND ls > 0
              THEN 1.0 + CAST(n_tail AS DOUBLE)/ls END AS alpha
  FROM agg
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_tail AS BIGINT) AS n_tail,
       CAST(20 AS BIGINT) AS dmin,
       round(alpha, 6) AS alpha,
       round(CASE WHEN alpha IS NOT NULL
                  THEN (alpha - 1)/sqrt(CAST(n_tail AS DOUBLE)) END, 6)
         AS sigma
FROM c
"""

    o["stats_kendall_tau"] = """
WITH clean AS (
  SELECT CAST(hour(ts) AS DOUBLE) AS x,
         CAST(floor(value/10) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), cells AS (SELECT x, y, count(*) AS c FROM clean GROUP BY 1, 2),
pair AS (
  SELECT sum(CASE WHEN a.y < b.y THEN a.c*b.c ELSE 0 END) AS conc,
         sum(CASE WHEN a.y > b.y THEN a.c*b.c ELSE 0 END) AS disc
  FROM cells a JOIN cells b ON a.x < b.x
), tx AS (SELECT sum(t*(t-1)/2) AS n1
          FROM (SELECT sum(c) AS t FROM cells GROUP BY x)),
ty AS (SELECT sum(t*(t-1)/2) AS n2
       FROM (SELECT sum(c) AS t FROM cells GROUP BY y)),
tot AS (SELECT sum(c) AS n, count(*) AS n_cells FROM cells),
j AS (
  SELECT conc, disc, n1, n2, CAST(n AS DOUBLE) AS n, n_cells
  FROM pair, tx, ty, tot
), t AS (
  SELECT *, CASE WHEN sqrt((n*(n-1)/2 - n1)*(n*(n-1)/2 - n2)) > 0
                 THEN (conc - disc)/sqrt((n*(n-1)/2 - n1)*(n*(n-1)/2 - n2))
            END AS tau
  FROM j
), z AS (
  SELECT *, CASE WHEN tau IS NOT NULL AND n > 1
                 THEN 3.0*tau*sqrt(n*(n-1))/sqrt(2.0*(2.0*n + 5)) END AS zv
  FROM t
), ph AS (SELECT *, abs(zv) AS az, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt FROM z)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
       CAST(conc AS BIGINT) AS concordant, CAST(disc AS BIGINT) AS discordant,
       round(coalesce(tau, 0.0), 6) AS tau_b,
       round(coalesce(zv, 0.0), 6) AS z_stat,
       round(CASE WHEN zv IS NULL THEN 1.0
                  ELSE least(2.0*(exp(-az*az/2.0)/2.5066282746310002)
                    *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
                       + tt*(-1.821255978 + tt*1.330274429))))), 1.0)
             END, 6) AS p_value
FROM ph
"""

    # Same one-vs-rest drift screen as stats_bh_fdr, Holm's step-down
    # running max instead of BH's step-up running min.
    o["stats_holm"] = _bh_prefix + """), mono AS (
  SELECT *, max(least(p * (m - rank + 1), 1.0)) OVER (
           ORDER BY rank ASC ROWS UNBOUNDED PRECEDING) AS adj
  FROM ranked
)
SELECT test, round(p, 6) AS p_value, rank, m,
       round(adj, 6) AS p_adj, adj <= 0.05 AS reject
FROM mono
"""

    # Same per-user dedup + md5 assignment as events_abtest; Beta(1,1)
    # posterior moments, normal-approx P(B>A) via the shared Phi
    # polynomial (tail = two_sided(|z|)/2).
    o["stats_bayes_ab"] = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 100
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
), assigned AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         CAST(converted AS DOUBLE) AS s
  FROM per_user
), agg AS (
  SELECT sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN variant = 'A' THEN s ELSE 0.0 END) AS c_a,
         sum(CASE WHEN variant = 'B' THEN s ELSE 0.0 END) AS c_b
  FROM assigned
), post AS (
  SELECT n_a, n_b, c_a, c_b,
         1.0 + c_a AS aa, 1.0 + n_a - c_a AS ba,
         1.0 + c_b AS ab_, 1.0 + n_b - c_b AS bb
  FROM agg
), mu AS (
  SELECT *, aa/(aa + ba) AS ma, ab_/(ab_ + bb) AS mb,
         aa*ba/((aa + ba)*(aa + ba)*(aa + ba + 1))
           + ab_*bb/((ab_ + bb)*(ab_ + bb)*(ab_ + bb + 1)) AS v
  FROM post
), z AS (
  SELECT *, CASE WHEN v > 0 THEN (mb - ma)/sqrt(v) END AS zv FROM mu
), ph AS (
  SELECT *, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt,
         (exp(-zv*zv/2.0)/2.5066282746310002) AS pdf
  FROM z
), pr AS (
  SELECT *, pdf*(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))) AS tail
  FROM ph
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(c_a AS BIGINT) AS conv_a, CAST(c_b AS BIGINT) AS conv_b,
       round(ma, 6) AS rate_a, round(mb, 6) AS rate_b,
       round(least(greatest(CASE WHEN zv IS NULL THEN 0.5
                                 WHEN zv >= 0 THEN 1.0 - tail
                                 ELSE tail END, 0.0), 1.0), 6)
         AS prob_b_beats_a,
       round(mb - ma, 6) AS abs_lift
FROM pr
"""

    # Same planted day-of-month >= 20 level shift, same running-mean /
    # cumulative-deviation / running-min windows over the daily rollup.
    o["stats_page_hinkley"] = """
WITH ev AS (
  SELECT ts,
         CASE WHEN day(ts) >= 20 THEN value*1.5 ELSE value END AS value
  FROM events
), daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(value) AS x
  FROM ev WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), rm AS (
  SELECT d, x, avg(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS rmean
  FROM daily
), mt AS (
  SELECT d, sum(x - rmean - 0.0)
           OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS m
  FROM rm
), phs AS (
  SELECT d, m - min(m) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS ph
  FROM mt
), mx AS (SELECT *, max(ph) OVER () AS phmax FROM phs)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(max(ph), 6) AS ph_max,
       CAST(min(CASE WHEN ph = phmax THEN d END) AS VARCHAR)
         AS ph_max_day,
       CAST(min(CASE WHEN ph > 5.0 THEN d END) AS VARCHAR) AS alarm_day,
       coalesce(max(CASE WHEN ph > 5.0 THEN 1 ELSE 0 END), 0) = 1 AS drifted
FROM mx
"""

    # Same per-group moments, same pairwise Welch z + Phi, same Holm
    # step-down over the (p, test)-ranked pair family.
    o["stats_posthoc"] = """
WITH per AS (
  SELECT CAST(event_type AS VARCHAR) AS g, count(*) AS n,
         sum(value) AS s1, sum(value*value) AS s2
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL GROUP BY 1
), mo AS (
  SELECT g, n, s1/n AS mean_g,
         greatest((s2 - s1*(s1/n))/(n - 1), 0.0)/n AS vn
  FROM per
), pairs AS (
  SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
         a.mean_g AS ma, b.mean_g AS mb, a.vn + b.vn AS se2
  FROM mo a JOIN mo b ON a.g < b.g
), z AS (
  SELECT *, CASE WHEN se2 > 0 THEN (ma - mb)/sqrt(se2) ELSE 0.0 END AS zv
  FROM pairs
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt FROM z),
pv AS (
  SELECT *, least(2.0*(exp(-zv*zv/2.0)/2.5066282746310002)
    *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
       + tt*(-1.821255978 + tt*1.330274429))))), 1.0) AS p
  FROM ph
), ranked AS (
  SELECT *, row_number() OVER (
           ORDER BY p, group_a || '|' || group_b) AS rank,
         count(*) OVER () AS m_tests
  FROM pv
), mono AS (
  SELECT *, max(least(p * (m_tests - rank + 1), 1.0)) OVER (
           ORDER BY rank ASC ROWS UNBOUNDED PRECEDING) AS adj
  FROM ranked
)
SELECT group_a, group_b,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round(zv, 6) AS z, round(p, 6) AS p_value,
       round(adj, 6) AS p_adj, adj <= 0.05 AS reject
FROM mono
"""

    # Same first-event adoption series, same cumulative-before window,
    # same 9-sum Cramer solve and quadratic inversion to (m, p, q).
    # All raw sums are exact integers in doubles, so Spark's partial
    # aggregation and DuckDB's serial sum agree bit-for-bit.
    o["events_bass"] = """
WITH base AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), first AS (SELECT u, min(d) AS d0 FROM base GROUP BY 1),
daily AS (
  SELECT d0 AS d, CAST(count(*) AS DOUBLE) AS nt FROM first GROUP BY 1
), series AS (
  SELECT d, nt,
         sum(nt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) - nt AS bigN
  FROM daily
), agg AS (
  SELECT count(*) AS n, sum(nt) AS sy, sum(bigN) AS s1,
         sum(bigN*bigN) AS s2, sum(bigN*bigN) AS s11,
         sum(bigN*bigN*bigN*bigN) AS s22, sum(bigN*bigN*bigN) AS s12,
         sum(bigN*nt) AS s1y, sum(bigN*bigN*nt) AS s2y
  FROM series
), c AS (
  SELECT CAST(n AS DOUBLE) AS n, sy, s1, s2,
         s11 - s1*s1/CAST(n AS DOUBLE) AS c11,
         s22 - s2*s2/CAST(n AS DOUBLE) AS c22,
         s12 - s1*s2/CAST(n AS DOUBLE) AS c12,
         s1y - s1*sy/CAST(n AS DOUBLE) AS c1y,
         s2y - s2*sy/CAST(n AS DOUBLE) AS c2y
  FROM agg
), f AS (
  SELECT n, sy, s1, s2, c11*c22 - c12*c12 AS det,
         c11, c22, c12, c1y, c2y
  FROM c
), co AS (
  SELECT n, sy, s1, s2,
         CASE WHEN n > 3 AND det > 0
              THEN (c1y*c22 - c2y*c12)/det END AS b,
         CASE WHEN n > 3 AND det > 0
              THEN (c2y*c11 - c1y*c12)/det END AS cc
  FROM f
), abc AS (
  SELECT n, sy, (sy - b*s1 - cc*s2)/n AS a, b, cc FROM co
), m2 AS (
  SELECT n, sy, a, b, cc,
         CASE WHEN cc < 0 AND b*b - 4*a*cc > 0 AND a > 0
              THEN (-b - sqrt(b*b - 4*a*cc))/(2*cc) END AS m
  FROM abc
), pq AS (
  SELECT *, CASE WHEN m > 0 THEN a/m END AS p,
            CASE WHEN m > 0 THEN -cc*m END AS q
  FROM m2
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(sy AS BIGINT) AS adopters,
       round(m, 6) AS m, round(p, 6) AS p, round(q, 6) AS q,
       round(CASE WHEN p > 0 AND q > 0 THEN ln(q/p)/(p + q) END, 6)
         AS peak_day
FROM pq
"""

    # Same (source, token) distribution table, same shared-vocabulary
    # equi-join terms + closed-form disjoint-mass remainder, same log2
    # convention; the pair spine comes from the totals table so fully
    # disjoint pairs still emit a row.
    o["text_source_jsd"] = """
WITH tf AS (
  SELECT g, w, count(*) AS tf FROM (
    SELECT CAST(source AS VARCHAR) AS g, unnest(__TOKS__) AS w
    FROM documents WHERE source IS NOT NULL)
  GROUP BY 1, 2
), totals AS (SELECT g, sum(tf) AS n FROM tf GROUP BY 1),
probs AS (
  SELECT tf.g, tf.w, CAST(tf.tf AS DOUBLE)/CAST(t.n AS DOUBLE) AS p
  FROM tf JOIN totals t ON tf.g = t.g
), joined AS (
  SELECT a.g AS sa, b.g AS sb, a.p AS pa, b.p AS pb
  FROM probs a JOIN probs b ON a.w = b.w AND a.g < b.g
), shared AS (
  SELECT sa, sb,
         sum(pa/2*ln(pa/((pa + pb)/2))/0.6931471805599453
             + pb/2*ln(pb/((pa + pb)/2))/0.6931471805599453) AS st,
         sum(pa) AS massa, sum(pb) AS massb
  FROM joined GROUP BY 1, 2
), spine AS (
  SELECT a.g AS sa, a.n AS na, b.g AS sb, b.n AS nb
  FROM totals a JOIN totals b ON a.g < b.g
), fullp AS (
  SELECT spine.sa, spine.sb, spine.na, spine.nb, st, massa, massb
  FROM spine LEFT JOIN shared
    ON spine.sa = shared.sa AND spine.sb = shared.sb
), jv AS (
  SELECT sa, sb, na, nb,
         least(greatest(coalesce(st, 0.0)
           + (1.0 - coalesce(massa, 0.0))/2
           + (1.0 - coalesce(massb, 0.0))/2, 0.0), 1.0) AS jsd
  FROM fullp
)
SELECT sa AS source_a, sb AS source_b,
       CAST(na AS BIGINT) AS tokens_a, CAST(nb AS BIGINT) AS tokens_b,
       round(jsd, 6) AS jsd, round(sqrt(jsd), 6) AS jsd_distance
FROM jv
""".replace("__TOKS__", _SQL_TOKS)

    # Same contingency/margin aggregation as the chi2 oracle; the
    # observed-cells-only sum IS complete (empty cells contribute 0 to
    # G); same Wilson-Hilferty upper tail as kruskal_wallis.
    o["stats_gtest"] = """
WITH cell AS (
  SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), ra AS (SELECT a, sum(o) AS ta FROM cell GROUP BY a),
rb AS (SELECT b, sum(o) AS tb FROM cell GROUP BY b),
tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS na,
               count(DISTINCT b) AS nb FROM cell),
g AS (
  SELECT n, na, nb,
         greatest(2.0*sum(o*ln(o/(CAST(ta AS DOUBLE)*tb/n))), 0.0) AS gv
  FROM cell JOIN ra USING (a) JOIN rb USING (b), tot
  GROUP BY n, na, nb
), d AS (
  SELECT n, na, nb, CAST((na - 1)*(nb - 1) AS DOUBLE) AS dof, gv FROM g
), z AS (
  SELECT *, CASE WHEN dof > 0 AND gv > 0
                 THEN (pow(gv/dof, 1.0/3.0) - (1.0 - 2.0/(9.0*dof)))
                      /sqrt(2.0/(9.0*dof))
                 ELSE 0.0 END AS zv
  FROM d
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt FROM z),
pr AS (
  SELECT *, (exp(-zv*zv/2.0)/2.5066282746310002)
    *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
       + tt*(-1.821255978 + tt*1.330274429))))) AS half
  FROM ph
)
SELECT CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b, CAST(dof AS BIGINT) AS dof,
       round(gv, 6) AS g_stat,
       round(least(greatest(CASE WHEN zv >= 0 THEN half
                                 ELSE 1.0 - half END, 0.0), 1.0), 6)
         AS p_value
FROM pr
"""

    # Same drift-screen prefix as BH/BY; pi0 at lambda = 0.5 scales
    # the step-up, floored at 1/m and capped at 1.
    o["stats_storey"] = _bh_prefix + """), pi AS (
  SELECT least(greatest(sum(CASE WHEN p > 0.5 THEN 1 ELSE 0 END)
                        /(0.5*count(*)), 1.0/count(*)), 1.0) AS pi0
  FROM ranked
), mono AS (
  SELECT ranked.*, pi0,
         least(min(pi0 * p * m / rank) OVER (
           ORDER BY rank DESC ROWS UNBOUNDED PRECEDING), 1.0) AS q
  FROM ranked, pi
)
SELECT test, round(p, 6) AS p_value, rank, m, round(pi0, 6) AS pi0,
       round(q, 6) AS q_value, q <= 0.05 AS reject
FROM mono
"""

    # Same score/label construction as classify_auc; step AP over
    # descending distinct thresholds with per-score tie grouping.
    o["classify_pr_auc"] = """
WITH base AS (
  SELECT round(1/(1+exp(-value/100.0)), 3) AS p,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), cells AS (
  SELECT p AS v, sum(y) AS ca, sum(1-y) AS cb FROM base GROUP BY 1
), cum AS (
  SELECT ca,
         sum(ca) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS tp,
         sum(ca + cb) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
           AS pred
  FROM cells
), tot AS (SELECT sum(ca) AS n_pos, sum(cb) AS n_neg FROM cells),
terms AS (
  SELECT n_pos, n_neg,
         CASE WHEN n_pos > 0
              THEN CAST(ca AS DOUBLE)/n_pos*(CAST(tp AS DOUBLE)/pred)
         END AS term
  FROM cum, tot
), agg AS (SELECT n_pos, n_neg, sum(term) AS ap FROM terms GROUP BY 1, 2)
SELECT CAST(n_pos + n_neg AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       round(CASE WHEN n_pos > 0 THEN ap END, 6) AS pr_auc,
       round(CAST(n_pos AS DOUBLE)/(n_pos + n_neg), 6) AS baseline
FROM agg
"""

    # Same lexicon argmax prediction as the kappa oracle; per-class
    # margins/diagonal + the table-level accuracy/macro-F1 rollup.
    o["classify_report"] = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang, {_kp_hits} FROM t),
r AS (
  SELECT lang AS a,
         CASE WHEN list_max({_kp_arr}) = 0 THEN 'und'
              ELSE {_kp_langs}[list_position({_kp_arr},
                                             list_max({_kp_arr}))]
         END AS b
  FROM h WHERE lang IS NOT NULL
), cell AS (SELECT a, b, count(*) AS c FROM r GROUP BY 1, 2),
tm AS (SELECT a AS label, sum(c) AS n_true FROM cell GROUP BY 1),
pm AS (SELECT b AS label, sum(c) AS n_pred FROM cell GROUP BY 1),
dg AS (SELECT a AS label, c AS tp FROM cell WHERE a = b),
spine AS (
  SELECT coalesce(tm.label, pm.label) AS label,
         coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred
  FROM tm FULL OUTER JOIN pm ON tm.label = pm.label
), sp2 AS (
  SELECT spine.label, n_true, n_pred, coalesce(tp, 0) AS tp
  FROM spine LEFT JOIN dg ON spine.label = dg.label
), scored AS (
  SELECT label, n_true, n_pred, tp,
         CASE WHEN n_pred > 0 THEN tp/CAST(n_pred AS DOUBLE) END AS prec,
         CASE WHEN n_true > 0 THEN tp/CAST(n_true AS DOUBLE) END AS rec
  FROM sp2
), f AS (
  SELECT *, CASE WHEN coalesce(prec, 0) + coalesce(rec, 0) > 0
                 THEN 2*coalesce(prec, 0)*coalesce(rec, 0)
                      /(coalesce(prec, 0) + coalesce(rec, 0))
                 ELSE 0.0 END AS f1
  FROM scored
), tot AS (
  SELECT sum(tp) AS tpsum, sum(n_true) AS nn, avg(f1) AS macro FROM f
)
SELECT label, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
       round(prec, 6) AS precision, round(rec, 6) AS recall,
       round(f1, 6) AS f1,
       round(tpsum/CAST(nn AS DOUBLE), 6) AS accuracy,
       round(macro, 6) AS macro_f1
FROM f, tot
"""

    # The decomposition oracle as a CTE, then the Wang-Smyth-Hyndman
    # variance-ratio identities on its usable (residual-defined) rows.
    o["stats_seasonal_strength"] = (
        "WITH dec AS (" + o["stats_seasonal_decompose"] + """),
tot AS (SELECT count(*) AS n_days FROM dec),
used AS (SELECT * FROM dec WHERE residual IS NOT NULL),
m AS (
  SELECT count(*) AS nu,
         sum(residual) AS sr1, sum(residual*residual) AS sr2,
         sum(y - seasonal) AS st1, sum((y - seasonal)*(y - seasonal)) AS st2,
         sum(y - trend) AS ss1, sum((y - trend)*(y - trend)) AS ss2
  FROM used
), v AS (
  SELECT nu,
         CASE WHEN nu > 2 THEN (sr2 - sr1*sr1/nu)/(nu - 1) END AS vr,
         CASE WHEN nu > 2 THEN (st2 - st1*st1/nu)/(nu - 1) END AS vt,
         CASE WHEN nu > 2 THEN (ss2 - ss1*ss1/nu)/(nu - 1) END AS vs
  FROM m
)
SELECT CAST(n_days AS BIGINT) AS n_days, CAST(nu AS BIGINT) AS n_used,
       round(CASE WHEN vt > 0 THEN greatest(1.0 - vr/vt, 0.0)
                  WHEN vt IS NOT NULL THEN 0.0 END, 6)
         AS trend_strength,
       round(CASE WHEN vs > 0 THEN greatest(1.0 - vr/vs, 0.0)
                  WHEN vs IS NOT NULL THEN 0.0 END, 6)
         AS seasonal_strength
FROM v, tot
"""
    )

    # Same daily-mean series, same complete-blocks R/S per scale, same
    # closed-form log-log fit.
    _hu_sizes = (5, 10, 15)
    _hu_ctes = []
    for _n in _hu_sizes:
        _hu_ctes.append(f"""blk{_n} AS (
  SELECT CAST(floor(i/{_n}) AS BIGINT) AS b, i, x,
         count(*) OVER (PARTITION BY floor(i/{_n})) AS bn
  FROM seq
), fb{_n} AS (SELECT b, i, x FROM blk{_n} WHERE bn = {_n}),
bm{_n} AS (
  SELECT b, i, x, avg(x) OVER (PARTITION BY b) AS mean FROM fb{_n}
), cd{_n} AS (
  SELECT b, x,
         sum(x - mean) OVER (PARTITION BY b ORDER BY i
           ROWS UNBOUNDED PRECEDING) AS cd
  FROM bm{_n}
), pb{_n} AS (
  SELECT b, max(cd) - min(cd) AS r,
         sqrt(greatest(avg(x*x) - avg(x)*avg(x), 0.0)) AS s
  FROM cd{_n} GROUP BY b
), rs{_n} AS (
  SELECT CAST({_n} AS DOUBLE) AS nn, avg(r/s) AS rs, count(*) AS nb
  FROM pb{_n} WHERE s > 0
)""")
    o["stats_hurst"] = (
        """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(CAST(value AS DOUBLE)) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), seq AS (
  SELECT d, x, row_number() OVER (ORDER BY d) - 1 AS i FROM daily
), nd AS (SELECT count(*) AS n_days FROM daily),
"""
        + ",\n".join(_hu_ctes)
        + """,
pts AS (
  SELECT ln(nn) AS lx, ln(rs) AS ly FROM (
    SELECT * FROM rs5 UNION ALL SELECT * FROM rs10
    UNION ALL SELECT * FROM rs15
  ) WHERE nb > 0 AND rs > 0
), agg AS (
  SELECT count(*) AS k, sum(lx) AS sx, sum(ly) AS sy,
         sum(lx*lx) AS sxx, sum(ly*ly) AS syy, sum(lx*ly) AS sxy
  FROM pts
), c AS (
  SELECT k, CAST(k AS DOUBLE)*sxx - sx*sx AS dx,
         CAST(k AS DOUBLE)*syy - sy*sy AS dy,
         CAST(k AS DOUBLE)*sxy - sx*sy AS num
  FROM agg
)
SELECT CAST(n_days AS BIGINT) AS n_days, CAST(k AS BIGINT) AS n_scales,
       round(CASE WHEN k > 1 AND dx > 0 THEN num/dx END, 6) AS hurst,
       round(CASE WHEN k > 1 AND dx > 0 AND dy > 0
                  THEN num*num/(dx*dy) END, 6) AS r2
FROM c, nd
"""
    )

    # Same tie-folded PWM order statistics over distinct exceedances.
    o["stats_gpd_tail"] = """
WITH exc AS (
  SELECT CAST(value AS DOUBLE) - 250.0 AS y FROM events
  WHERE value IS NOT NULL AND CAST(value AS DOUBLE) > 250.0
), cells AS (SELECT y, count(*) AS c FROM exc GROUP BY 1),
st AS (
  SELECT y, c,
         coalesce(sum(c) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS le,
         sum(c) OVER () AS n
  FROM cells
), tot AS (
  SELECT max(n) AS n, sum(y*c) AS sy,
         sum(y*(c*n - c*le - c*(c + 1)/2)) AS b1num
  FROM st
), b AS (
  SELECT CAST(n AS BIGINT) AS n_exceed,
         sy/n AS b0,
         CASE WHEN n > 1 THEN b1num/(CAST(n AS DOUBLE)*(n - 1)) END AS b1
  FROM tot
)
SELECT n_exceed, round(b0, 6) AS b0,
       round(CASE WHEN abs(b0 - 2*b1) > 0
                  THEN 2.0 - b0/(b0 - 2*b1) END, 6) AS xi,
       round(CASE WHEN abs(b0 - 2*b1) > 0
                  THEN 2*b0*b1/(b0 - 2*b1) END, 6) AS sigma
FROM b
"""

    # Same conditional aggregation, same Wilson center/halfwidth.
    o["stats_wilson_ci"] = """
WITH per AS (
  SELECT CAST(event_type AS VARCHAR) AS grp, count(*) AS n,
         sum(CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END) AS s
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), w AS (
  SELECT grp, n, s, s/n AS p, 1.959964*1.959964 AS z2,
         1.959964 AS z
  FROM per
), c AS (
  SELECT grp, n, s, p,
         (p + z2/(2*n))/(1.0 + z2/n) AS center,
         z*sqrt(p*(1 - p)/n + z2/(4*n*n))/(1.0 + z2/n) AS half
  FROM w
)
SELECT grp AS "group", CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS successes, round(p, 6) AS rate,
       round(greatest(center - half, 0.0), 6) AS ci_low,
       round(least(center + half, 1.0), 6) AS ci_high
FROM c
"""

    # Lloyd rounds unrolled: same lowest-id rounded seeds, same
    # squared-L2 (d2, cl) argmin, same rounded per-dim means, same
    # empty-cluster carry-over, same final (n, wcss) readout.
    _km_k, _km_rounds, _km_dim = 4, 2, 64
    _km = [f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c1 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,
         list_transform(v, x -> round(x, 6)) AS cent
  FROM e ORDER BY vec_id LIMIT {_km_k}
)"""]
    for _r in range(1, _km_rounds + 1):
        _km.append(f"""a{_r} AS (
  SELECT e.vec_id, e.v, c.cl,
         list_sum(list_transform(range(1, {_km_dim + 1}),
             i -> (e.v[i] - c.cent[i])*(e.v[i] - c.cent[i]))) AS d2
  FROM e CROSS JOIN c{_r} c
), own{_r} AS (
  SELECT vec_id, v, cl FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cl) AS rn
    FROM a{_r}
  ) WHERE rn = 1
), m{_r} AS (
  SELECT cl, idx, round(avg(el), 6) AS m
  FROM (SELECT cl, unnest(v) AS el,
               unnest(range(1, {_km_dim + 1})) AS idx
        FROM own{_r})
  GROUP BY 1, 2
), c{_r + 1} AS (
  SELECT p.cl, coalesce(nw.cent, p.cent) AS cent
  FROM c{_r} p LEFT JOIN (
    SELECT cl, list(m ORDER BY idx) AS cent FROM m{_r} GROUP BY cl
  ) nw ON p.cl = nw.cl
)""")
    o["ml_kmeans_fit"] = (
        "WITH " + ",\n".join(_km) + f""",
af AS (
  SELECT e.vec_id, c.cl,
         list_sum(list_transform(range(1, {_km_dim + 1}),
             i -> (e.v[i] - c.cent[i])*(e.v[i] - c.cent[i]))) AS d2
  FROM e CROSS JOIN c{_km_rounds + 1} c
), ownf AS (
  SELECT vec_id, cl, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cl) AS rn
    FROM af
  ) WHERE rn = 1
)
SELECT CAST(cl AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(round(d2, 9) AS DECIMAL(38,9))), 6) AS DOUBLE)
         AS wcss
FROM ownf GROUP BY cl
"""
    )

    # The ledger's per-user set-semantics fold equals a per-user max
    # over ALL events, so the streaming Bayesian readout hash-checks
    # against the IDENTICAL batch oracle.
    o["stream_bayes"] = o["stats_bayes_ab"]

    # The daily-moments ledger fold (sum of per-batch day sums / sum of
    # counts) equals the batch daily mean, and the window arithmetic is
    # literally shared (page_hinkley_over_daily) — identical oracle.
    o["stream_page_hinkley"] = o["stats_page_hinkley"]

    # The stats_acf machinery at lags 1..10 + the (acf desc, lag asc)
    # argmax and the Bartlett bound.
    o["stats_dominant_period"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), mom AS (
  SELECT max(m) AS m, sum((v - m)*(v - m)) AS ss FROM (
    SELECT v, avg(v) OVER () AS m FROM daily
  )
), lagged AS (
  SELECT d + to_days(CAST(lag AS INTEGER)) AS d, lag, v AS v_lag
  FROM daily CROSS JOIN (SELECT unnest(range(1, 11)) AS lag)
), pairs AS (
  SELECT lagged.lag, daily.v, lagged.v_lag
  FROM daily JOIN lagged USING (d)
), acf AS (
  SELECT lag,
         round(CASE WHEN max(ss) > 0
                    THEN sum((v - max_m)*(v_lag - max_m))/max(ss)
                    ELSE 0.0 END, 6) AS acf
  FROM (SELECT pairs.*, mom.m AS max_m, mom.ss FROM pairs CROSS JOIN mom)
  GROUP BY lag
), nd AS (
  SELECT count(DISTINCT CAST(ts AS DATE)) AS n_days FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
), best AS (
  SELECT lag, acf FROM acf ORDER BY acf DESC, lag ASC LIMIT 1
)
SELECT CAST(n_days AS BIGINT) AS n_days, CAST(lag AS BIGINT) AS best_lag,
       acf AS best_acf,
       CASE WHEN n_days > 0
            THEN round(1.96/sqrt(CAST(n_days AS DOUBLE)), 6) END
         AS acf_threshold,
       acf > 1.96/sqrt(CAST(n_days AS DOUBLE)) AS significant
FROM nd LEFT JOIN best ON TRUE
"""

    # Same integer-micros gaps (ties among equal timestamps permute
    # equal values, so the gap multiset is order-invariant), same
    # moment identities for B and the memory correlation.
    o["events_burstiness"] = """
WITH base AS (
  SELECT user_id AS u, epoch_us(ts) AS us FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), g AS (
  SELECT u, us,
         (us - lag(us) OVER (PARTITION BY u ORDER BY us)) / 1000000.0
           AS gap
  FROM base
), gg AS (SELECT u, us, gap FROM g WHERE gap IS NOT NULL),
p AS (
  SELECT gap, lag(gap) OVER (PARTITION BY u ORDER BY us) AS prev FROM gg
), agg AS (
  SELECT count(*) AS n, sum(gap) AS s1, sum(gap*gap) AS s2,
         sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS np,
         sum(CASE WHEN prev IS NOT NULL THEN gap END) AS px,
         sum(CASE WHEN prev IS NOT NULL THEN prev END) AS py,
         sum(CASE WHEN prev IS NOT NULL THEN gap*gap END) AS pxx,
         sum(CASE WHEN prev IS NOT NULL THEN prev*prev END) AS pyy,
         sum(CASE WHEN prev IS NOT NULL THEN gap*prev END) AS pxy
  FROM p
), c AS (
  SELECT n, s1/CAST(n AS DOUBLE) AS mu,
         sqrt(greatest(CASE WHEN n > 1
           THEN (s2 - s1*(s1/CAST(n AS DOUBLE)))/(n - 1) END, 0.0)) AS sd,
         np, px, py, pxx, pyy, pxy
  FROM agg
), mm AS (
  SELECT *, CAST(np AS DOUBLE)*pxx - px*px AS cxx,
         CAST(np AS DOUBLE)*pyy - py*py AS cyy,
         CAST(np AS DOUBLE)*pxy - px*py AS cxy
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_gaps, round(mu, 6) AS mean_s,
       round(sd, 6) AS sd_s,
       round(CASE WHEN sd + mu > 0 THEN (sd - mu)/(sd + mu) END, 6)
         AS burstiness,
       round(CASE WHEN np > 1 AND cxx > 0 AND cyy > 0
                  THEN cxy/sqrt(cxx*cyy) END, 6) AS memory
FROM mm
"""

    # Same canonical undirected edges, same stub degrees, same Freeman
    # normalizer.
    o["graph_centralization"] = """
WITH e AS (
  SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
  FROM (SELECT o_custkey % 100 AS a0, o_orderkey % 100 AS b0 FROM orders)
  WHERE a0 <> b0 AND a0 IS NOT NULL AND b0 IS NOT NULL
), stubs AS (
  SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
), deg AS (SELECT node, count(*) AS d FROM stubs GROUP BY 1),
m AS (SELECT count(*) AS n_edges FROM e),
agg AS (
  SELECT count(*) AS n, max(d) AS dmax, sum(d) AS sd FROM deg
)
SELECT CAST(n AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
       CAST(dmax AS BIGINT) AS max_degree,
       round(CASE WHEN n > 2
                  THEN (CAST(n AS DOUBLE)*dmax - sd)
                       /((CAST(n AS DOUBLE) - 1)*(CAST(n AS DOUBLE) - 2))
             END, 6) AS centralization
FROM agg, m
"""

    # Same lower weighted median, same k x 2 fold, same WH/Phi tail.
    o["stats_mood_median"] = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v, CAST(event_type AS VARCHAR) AS g
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), per AS (SELECT v, g, count(*) AS c FROM base GROUP BY 1, 2),
tv AS (SELECT v, sum(c) AS t FROM per GROUP BY 1),
cum AS (
  SELECT v, t, sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumt,
         sum(t) OVER () AS n
  FROM tv
), med AS (SELECT min(v) AS m, max(n) AS n FROM cum WHERE cumt*2 >= n),
cells AS (
  SELECT g, sum(CASE WHEN per.v > med.m THEN c ELSE 0 END) AS above,
         sum(c) AS ng, max(med.m) AS m, max(med.n) AS n
  FROM per CROSS JOIN med GROUP BY g
), tot AS (SELECT count(*) AS k, sum(above) AS ta FROM cells),
chi AS (
  SELECT max(tot.k) AS k, max(cells.n) AS n, max(cells.m) AS m,
         max(tot.ta) AS ta,
         sum(CASE WHEN CAST(ng AS DOUBLE)*ta/CAST(n AS DOUBLE) > 0
               THEN (CAST(above AS DOUBLE)
                     - CAST(ng AS DOUBLE)*ta/CAST(n AS DOUBLE))
                    *(CAST(above AS DOUBLE)
                      - CAST(ng AS DOUBLE)*ta/CAST(n AS DOUBLE))
                    /(CAST(ng AS DOUBLE)*ta/CAST(n AS DOUBLE))
               ELSE 0.0 END
           + CASE WHEN CAST(ng AS DOUBLE)*(n - ta)/CAST(n AS DOUBLE) > 0
               THEN ((CAST(ng AS DOUBLE) - CAST(above AS DOUBLE))
                     - CAST(ng AS DOUBLE)*(n - ta)/CAST(n AS DOUBLE))
                    *((CAST(ng AS DOUBLE) - CAST(above AS DOUBLE))
                      - CAST(ng AS DOUBLE)*(n - ta)/CAST(n AS DOUBLE))
                    /(CAST(ng AS DOUBLE)*(n - ta)/CAST(n AS DOUBLE))
               ELSE 0.0 END) AS chi2
  FROM cells CROSS JOIN tot
), calc AS (
  SELECT k, n, m, ta, chi2 AS h, CAST(k - 1 AS DOUBLE) AS nu FROM chi
), zc AS (
  SELECT *, CASE WHEN nu > 0 AND h > 0
              THEN (pow(h/nu, 1.0/3.0) - (1.0 - 2.0/(9.0*nu)))
                   / sqrt(2.0/(9.0*nu))
              ELSE 0.0 END AS z
  FROM calc
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc),
pp AS (
  SELECT *,
         (2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))))/2.0 AS half
  FROM ph
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       round(m, 6) AS grand_median, CAST(ta AS BIGINT) AS n_above,
       round(h, 6) AS chi2, CAST(nu AS BIGINT) AS dof,
       round(least(greatest(CASE WHEN z >= 0 THEN half
                                 ELSE 1.0 - half END, 0.0), 1.0), 6)
         AS p_value
FROM pp
"""

    # Same tie-weighted ECDF sum, same asymptotic 0.461 verdict.
    o["stats_cvm"] = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v, CAST(event_type AS VARCHAR) AS g
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
), cells AS (
  SELECT v, sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS cb
  FROM base GROUP BY 1
), st AS (
  SELECT ca, cb,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM cells
), agg AS (
  SELECT max(na) AS n_a, max(nb) AS n_b,
         sum(CAST(ca + cb AS DOUBLE)
             * (cuma/CAST(na AS DOUBLE) - cumb/CAST(nb AS DOUBLE))
             * (cuma/CAST(na AS DOUBLE) - cumb/CAST(nb AS DOUBLE))) AS s
  FROM st
), t AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)
           /((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             *(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * s AS tt
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(tt, 6) AS t_stat, round(0.461, 6) AS critical_05,
       tt > 0.461 AS reject
FROM t
"""

    # Same distinct-value cells, same tie-weighted ECDF sum with the
    # pooled-ECDF AD weight, same H = 1 truncation of the largest value.
    o["stats_ad"] = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v, CAST(event_type AS VARCHAR) AS g
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
), cells AS (
  SELECT v, sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS cb
  FROM base GROUP BY 1
), st AS (
  SELECT ca, cb,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM cells
), wt AS (
  SELECT ca, cb, na, nb,
         cuma/CAST(na AS DOUBLE) - cumb/CAST(nb AS DOUBLE) AS d,
         CAST(cuma + cumb AS DOUBLE)/CAST(na + nb AS DOUBLE) AS h
  FROM st
), agg AS (
  SELECT max(na) AS n_a, max(nb) AS n_b,
         sum(CASE WHEN h < 1.0
                  THEN CAST(ca + cb AS DOUBLE)*d*d/(h*(1.0 - h))
                  ELSE 0.0 END) AS s
  FROM wt
), t AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)
           /((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             *(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * s AS a2
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(a2, 6) AS a2_stat, round(2.492, 6) AS critical_05,
       a2 > 2.492 AS reject
FROM t
"""

    # chr(1)-delimited symbol strings + one replace per fixed merge
    # (left-to-right non-overlapping == BPE semantics); see
    # _bbpe_oracle_sql.
    o["tok_byte_bpe"] = _bbpe_oracle_sql()

    # Full deterministic sketch replay with the 10 compression levels
    # unrolled; see _qdigest_oracle_sql.
    o["stats_qdigest"] = _qdigest_oracle_sql(
        "CAST(CAST(ts AS DATE) AS VARCHAR)",
        lo=0.0, hi=200.0, depth=10, k=32,
        qs=(0.1, 0.5, 0.9, 0.99),
        day_lo="2024-01-05", day_hi="2024-01-25",
    )
    # The ledger parity fold equals the direct per-parity-group replay
    # (batch ids zero-padded, the hist-ledger convention).
    o["stream_qdigest"] = _qdigest_oracle_sql(
        "lpad(CAST(event_id % 2 AS VARCHAR), 10, '0')",
        lo=0.0, hi=200.0, depth=10, k=32,
        qs=(0.1, 0.5, 0.9, 0.99),
        day_lo="0000000000", day_hi="0000000001",
    )

    # Same order-statistic PWMs, same Hosking rational k, same A&S
    # Gamma(1+x) polynomial (reflection for k < 0), same return level.
    o["stats_gev_maxima"] = """
WITH maxima AS (
  SELECT CAST(ts AS DATE) AS d, max(CAST(value AS DOUBLE)) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), idx AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, d) - 1 AS DOUBLE) AS i
  FROM maxima
), agg AS (
  SELECT count(*) AS n, sum(x) AS s0, sum(i*x) AS s1,
         sum(i*(i - 1)*x) AS s2
  FROM idx
), b AS (
  SELECT n, s0/CAST(n AS DOUBLE) AS b0,
         s1/(CAST(n AS DOUBLE)*(n - 1)) AS b1,
         s2/(CAST(n AS DOUBLE)*(n - 1)*(n - 2)) AS b2
  FROM agg
), cc AS (
  -- guard mirrors Spark's cden != 0 branch: a constant maxima series
  -- has 3*b2 - b0 = 0 exactly, where an unguarded 0/0 would be NaN
  -- here but NULL on the Spark side
  SELECT *, CASE WHEN 3*b2 - b0 <> 0
                 THEN (2*b1 - b0)/(3*b2 - b0) - 0.6309297535714574
            END AS c
  FROM b
), kc AS (
  SELECT *, 7.8590*c + 2.9554*c*c AS kk
  FROM cc
), g AS (
  SELECT *, CASE WHEN kk >= 0 THEN (1.0 + kk*(-0.577191652 + kk*(0.988205891 + kk*(-0.897056937 + kk*(0.918206857 + kk*(-0.756704078 + kk*(0.482199394 + kk*(-0.193527818 + kk*0.035868343))))))))
                 ELSE (1.0 + (1.0 + kk)*(-0.577191652 + (1.0 + kk)*(0.988205891 + (1.0 + kk)*(-0.897056937 + (1.0 + kk)*(0.918206857 + (1.0 + kk)*(-0.756704078 + (1.0 + kk)*(0.482199394 + (1.0 + kk)*(-0.193527818 + (1.0 + kk)*0.035868343))))))))/(1.0 + kk) END AS gam
  FROM kc
), par AS (
  SELECT n, kk, abs(kk) < 0.000001 AS gum,
         (2*b1 - b0)*kk/(gam*(1.0 - pow(2.0, -kk))) AS sg,
         b0, b1, gam
  FROM g
), par2 AS (
  SELECT *, b0 + sg*(gam - 1.0)/kk AS mg,
         (2*b1 - b0)/0.6931471805599453 AS sgum
  FROM par
), par3 AS (
  SELECT n, kk, gum,
         CASE WHEN gum THEN 0.0 ELSE -kk END AS shape,
         CASE WHEN gum THEN sgum ELSE sg END AS sigma,
         CASE WHEN gum THEN b0 - 0.5772156649015329*sgum ELSE mg END AS mu
  FROM par2
), rl AS (
  SELECT *, -1.0*ln(1.0 - 1.0/20.0) AS y FROM par3
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CASE WHEN n < 3 THEN NULL ELSE round(shape, 6) END AS shape,
       CASE WHEN n < 3 THEN NULL ELSE round(sigma, 6) END AS scale,
       CASE WHEN n < 3 THEN NULL ELSE round(mu, 6) END AS location,
       CASE WHEN n < 3 THEN NULL
            ELSE round(CASE WHEN gum THEN mu - sigma*ln(y)
                            ELSE mu + sigma*(pow(y, -shape) - 1.0)/shape
                       END, 6) END AS return_level,
       CAST(20 AS BIGINT) AS return_period
FROM rl
"""

    # Same md5 buckets, same min-bucket first occurrence, same
    # cumulative curve and closed-form OLS (zero-mass buckets skipped
    # on both sides).
    o["text_heaps"] = f"""
WITH tk AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 20 AS b,
         unnest({_SQL_TOKS}) AS tok
  FROM documents
), per_tok AS (SELECT tok, min(b) AS fb FROM tk GROUP BY 1),
new_types AS (SELECT fb, count(*) AS nt FROM per_tok GROUP BY 1),
tok_mass AS (SELECT b, count(*) AS nm FROM tk GROUP BY 1),
curve AS (
  SELECT tok_mass.b AS b, nm, coalesce(nt, 0) AS nt
  FROM tok_mass LEFT JOIN new_types ON tok_mass.b = new_types.fb
  WHERE nm > 0
), pts AS (
  SELECT ln(CAST(sum(nm) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE)) AS x,
         ln(CAST(sum(nt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE)) AS y,
         sum(nm) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_n,
         sum(nt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_v
  FROM curve
), ols AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy,
         max(cum_n) AS n_tokens, max(cum_v) AS n_types
  FROM pts
), fit AS (
  SELECT *, (n*sxy - sx*sy)/(n*sxx - sx*sx) AS beta FROM ols
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       round(exp((sy - beta*sx)/n), 6) AS k_coef,
       round(beta, 6) + 0.0 AS beta,
       round(pow(n*sxy - sx*sy, 2)
             /((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) + 0.0 AS r2
FROM fit
"""

    # Same language_id prediction CTEs as classify_report, then the
    # Gorodkin R_K margin algebra over the identical confusion cells.
    o["classify_mcc"] = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang, {_kp_hits} FROM t),
r AS (
  SELECT lang AS a,
         CASE WHEN list_max({_kp_arr}) = 0 THEN 'und'
              ELSE {_kp_langs}[list_position({_kp_arr},
                                             list_max({_kp_arr}))]
         END AS b
  FROM h WHERE lang IS NOT NULL
), cell AS (SELECT a, b, count(*) AS c FROM r GROUP BY 1, 2),
tm AS (SELECT a AS k, sum(c) AS tk FROM cell GROUP BY 1),
pm AS (SELECT b AS k, sum(c) AS pk FROM cell GROUP BY 1),
marg AS (
  SELECT coalesce(tm.k, pm.k) AS k,
         CAST(coalesce(tk, 0) AS DOUBLE) AS tk,
         CAST(coalesce(pk, 0) AS DOUBLE) AS pk
  FROM tm FULL OUTER JOIN pm ON tm.k = pm.k
), ma AS (
  SELECT count(*) AS k_classes, sum(tk*pk) AS tp_dot,
         sum(tk*tk) AS tt, sum(pk*pk) AS pp
  FROM marg
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS s,
         CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS DOUBLE) AS cd
  FROM cell
)
SELECT CAST(s AS BIGINT) AS n, CAST(k_classes AS BIGINT) AS k_classes,
       round(CASE WHEN (s*s - pp)*(s*s - tt) > 0
                  THEN (cd*s - tp_dot)/sqrt((s*s - pp)*(s*s - tt))
             END, 6) AS mcc
FROM tot, ma
"""

    # Same literal codepoint-range classes (shared _SCRIPT_RANGES), same
    # per-doc counts, same shares / dominant tie-break / mixed flag.
    from plda_spark.operators.text import _SCRIPT_RANGES as _scr

    _cnt = ",\n    ".join(
        "CASE WHEN text IS NULL THEN 0 ELSE "
        f"len(regexp_extract_all(text, '{rng}')) END AS {name}"
        for name, rng in _scr
    )
    _names = [name for name, _ in _scr]
    _letters = " + ".join(_names)
    _tots = ", ".join(f"sum({n}) AS t_{n}" for n in _names)
    _tot_sum = " + ".join(f"t_{n}" for n in _names)
    _best = "greatest(" + ", ".join(f"t_{n}" for n in _names) + ")"
    _dom = " ".join(
        f"WHEN t_{n} = best THEN '{n}'" for n in _names
    )
    _shares = ", ".join(
        f"round(CASE WHEN tot > 0 THEN t_{n}/tot END, 6) AS {n}_share"
        for n in _names
    )
    o["text_script_mix"] = f"""
WITH per AS (
  SELECT source AS grp,
    {_cnt}
  FROM documents
), agg AS (
  SELECT grp, count(*) AS n_docs, {_tots},
         sum(CASE WHEN ({_letters}) >= 20
                  AND CAST(greatest({', '.join(_names)}) AS DOUBLE)
                      < 0.9*({_letters})
                  THEN 1 ELSE 0 END) AS mixed
  FROM per GROUP BY 1
), sc AS (
  SELECT *, CAST({_tot_sum} AS DOUBLE) AS tot, {_best} AS best FROM agg
)
SELECT grp AS "group", CAST(n_docs AS BIGINT) AS n_docs, {_shares},
       CASE WHEN tot <= 0 THEN NULL {_dom} END AS dominant_script,
       round(mixed/CAST(n_docs AS DOUBLE), 6) AS mixed_doc_share
FROM sc
"""


    # Same merged range arrays, same binned ECDFs, same T/0.461 verdict
    # as the cell-based stats_cvm (zero-count bins contribute 0 on both
    # sides).
    o["stats_hist_cvm"] = """
WITH b AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g AS (
  SELECT bin,
         sum(CASE WHEN day BETWEEN '2024-01-01' AND '2024-01-10'
                  THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN day BETWEEN '2024-01-20' AND '2024-01-31'
                  THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), e AS (
  SELECT ca, cb,
         sum(ca) OVER (ORDER BY bin) / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY bin) / sum(cb) OVER () AS fb,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g
), agg AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b,
         sum(CAST(ca + cb AS DOUBLE) * (fa - fb) * (fa - fb)) AS s
  FROM e
), t AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)
           /((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             *(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * s AS tt
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(tt, 6) AS t_stat, round(0.461, 6) AS critical_05,
       tt > 0.461 AS reject
FROM t
"""

    # Same bin merge, same binned ECDFs plus the pooled one, same
    # H-in-(0,1) masking of empty and final bins.
    o["stats_hist_ad"] = """
WITH b AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g AS (
  SELECT bin,
         sum(CASE WHEN day BETWEEN '2024-01-01' AND '2024-01-10'
                  THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN day BETWEEN '2024-01-20' AND '2024-01-31'
                  THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), e AS (
  SELECT ca, cb,
         sum(ca) OVER (ORDER BY bin) / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY bin) / sum(cb) OVER () AS fb,
         CAST(sum(ca + cb) OVER (ORDER BY bin) AS DOUBLE)
           / sum(ca + cb) OVER () AS h,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g
), agg AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b,
         sum(CASE WHEN h > 0.0 AND h < 1.0
                  THEN CAST(ca + cb AS DOUBLE)*(fa - fb)*(fa - fb)
                       /(h*(1.0 - h))
                  ELSE 0.0 END) AS s
  FROM e
), t AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)
           /((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             *(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * s AS a2
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(a2, 6) AS a2_stat, round(2.492, 6) AS critical_05,
       a2 > 2.492 AS reject
FROM t
"""

    # The ledger parity fold equals the direct binned CvM on the same
    # event-id parity split (the stream_hist_drift argument).
    o["stream_hist_cvm"] = """
WITH b AS (
  SELECT event_id % 2 AS g,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g2 AS (
  SELECT bin,
         sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), e AS (
  SELECT ca, cb,
         sum(ca) OVER (ORDER BY bin) / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY bin) / sum(cb) OVER () AS fb,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g2
), agg AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b,
         sum(CAST(ca + cb AS DOUBLE) * (fa - fb) * (fa - fb)) AS s
  FROM e
), t AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)
           /((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             *(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * s AS tt
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(tt, 6) AS t_stat, round(0.461, 6) AS critical_05,
       tt > 0.461 AS reject
FROM t
"""

    # The ledger parity fold equals the direct binned AD on the same
    # event-id parity split (the stream_hist_drift argument).
    o["stream_hist_ad"] = """
WITH b AS (
  SELECT event_id % 2 AS g,
         CAST(least(floor(CAST(value AS DOUBLE) / 3.125), 63) AS INTEGER)
           AS bin
  FROM events WHERE value >= 0 AND value < 200
), g2 AS (
  SELECT bin,
         sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bin
), e AS (
  SELECT ca, cb,
         sum(ca) OVER (ORDER BY bin) / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY bin) / sum(cb) OVER () AS fb,
         CAST(sum(ca + cb) OVER (ORDER BY bin) AS DOUBLE)
           / sum(ca + cb) OVER () AS h,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM g2
), agg AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b,
         sum(CASE WHEN h > 0.0 AND h < 1.0
                  THEN CAST(ca + cb AS DOUBLE)*(fa - fb)*(fa - fb)
                       /(h*(1.0 - h))
                  ELSE 0.0 END) AS s
  FROM e
), t AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)
           /((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             *(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * s AS a2
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(a2, 6) AS a2_stat, round(2.492, 6) AS critical_05,
       a2 > 2.492 AS reject
FROM t
"""


    # Same complete-block filter, same average within-day ranks, same
    # tie-corrected Q and WH/Phi tail.
    o["stats_friedman"] = """
WITH cells AS (
  SELECT CAST(ts AS DATE) AS d, CAST(event_type AS VARCHAR) AS g,
         avg(CAST(value AS DOUBLE)) AS x
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), kk AS (SELECT count(DISTINCT g) AS ka FROM cells),
dc AS (SELECT d, count(*) AS kd FROM cells GROUP BY 1),
complete AS (
  SELECT cells.d, cells.g, cells.x
  FROM cells JOIN dc USING (d) CROSS JOIN kk WHERE dc.kd = kk.ka
), ranked AS (
  SELECT d, g,
         rank() OVER (PARTITION BY d ORDER BY x)
           + (count(*) OVER (PARTITION BY d, x) - 1)/2.0 AS r,
         CAST(count(*) OVER (PARTITION BY d, x) AS DOUBLE) AS t
  FROM complete
), per_g AS (SELECT g, sum(r) AS rj FROM ranked GROUP BY 1),
ties AS (
  SELECT sum(t*t - 1) AS tm,
         count(*)/(SELECT CAST(ka AS DOUBLE) FROM kk) AS n
  FROM ranked
), agg AS (
  SELECT count(*) AS k, max(n) AS n, sum(rj*rj) AS s, max(tm) AS tm
  FROM per_g CROSS JOIN ties
), calc AS (
  SELECT k, n,
         CASE WHEN (1.0 - tm/(n*CAST(k AS DOUBLE)
                              *(CAST(k AS DOUBLE)*k - 1))) > 0
              THEN greatest(
                (12.0/(n*CAST(k AS DOUBLE)*(CAST(k AS DOUBLE) + 1))*s
                 - 3.0*n*(CAST(k AS DOUBLE) + 1))
                /(1.0 - tm/(n*CAST(k AS DOUBLE)
                            *(CAST(k AS DOUBLE)*k - 1))), 0.0)
              ELSE 0.0 END AS h,
         CAST(k - 1 AS DOUBLE) AS nu
  FROM agg), zc AS (
  SELECT *, CASE WHEN nu > 0 AND h > 0
              THEN (pow(h/nu, 1.0/3.0) - (1.0 - 2.0/(9.0*nu)))
                   / sqrt(2.0/(9.0*nu))
              ELSE 0.0 END AS z
  FROM calc
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zc),
pp AS (
  SELECT *,
         (2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))))/2.0 AS half
  FROM ph
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_blocks,
       round(h, 6) AS q_stat, CAST(nu AS BIGINT) AS dof,
       round(CASE WHEN n > 0 AND k > 1
                  THEN h/(n*(CAST(k AS DOUBLE) - 1)) END, 6)
         AS kendall_w,
       round(least(greatest(CASE WHEN z >= 0 THEN half
                                 ELSE 1.0 - half END, 0.0), 1.0), 6)
         AS p_value
FROM pp
"""

    # Same demeaned partial sums, same Bartlett long-run variance at
    # the published bandwidth rule, same 0.463 verdict.
    o["stats_kpss"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, avg(CAST(value AS DOUBLE)) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
), st AS (SELECT d, x - avg(x) OVER () AS e FROM daily),
sp AS (
  SELECT d, e,
         sum(e) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s,
         lag(e, 1) OVER (ORDER BY d) AS e1,
         lag(e, 2) OVER (ORDER BY d) AS e2,
         lag(e, 3) OVER (ORDER BY d) AS e3,
         lag(e, 4) OVER (ORDER BY d) AS e4,
         lag(e, 5) OVER (ORDER BY d) AS e5,
         lag(e, 6) OVER (ORDER BY d) AS e6,
         lag(e, 7) OVER (ORDER BY d) AS e7,
         lag(e, 8) OVER (ORDER BY d) AS e8,
         lag(e, 9) OVER (ORDER BY d) AS e9,
         lag(e, 10) OVER (ORDER BY d) AS e10,
         lag(e, 11) OVER (ORDER BY d) AS e11,
         lag(e, 12) OVER (ORDER BY d) AS e12,
         lag(e, 13) OVER (ORDER BY d) AS e13,
         lag(e, 14) OVER (ORDER BY d) AS e14,
         lag(e, 15) OVER (ORDER BY d) AS e15,
         lag(e, 16) OVER (ORDER BY d) AS e16,
         lag(e, 17) OVER (ORDER BY d) AS e17,
         lag(e, 18) OVER (ORDER BY d) AS e18,
         lag(e, 19) OVER (ORDER BY d) AS e19,
         lag(e, 20) OVER (ORDER BY d) AS e20,
         lag(e, 21) OVER (ORDER BY d) AS e21,
         lag(e, 22) OVER (ORDER BY d) AS e22,
         lag(e, 23) OVER (ORDER BY d) AS e23,
         lag(e, 24) OVER (ORDER BY d) AS e24,
         lag(e, 25) OVER (ORDER BY d) AS e25,
         lag(e, 26) OVER (ORDER BY d) AS e26,
         lag(e, 27) OVER (ORDER BY d) AS e27,
         lag(e, 28) OVER (ORDER BY d) AS e28,
         lag(e, 29) OVER (ORDER BY d) AS e29,
         lag(e, 30) OVER (ORDER BY d) AS e30
  FROM st
), agg AS (
  SELECT count(*) AS n, sum(s*s) AS ss, sum(e*e) AS g0,
         sum(e*e1) AS g1,
         sum(e*e2) AS g2,
         sum(e*e3) AS g3,
         sum(e*e4) AS g4,
         sum(e*e5) AS g5,
         sum(e*e6) AS g6,
         sum(e*e7) AS g7,
         sum(e*e8) AS g8,
         sum(e*e9) AS g9,
         sum(e*e10) AS g10,
         sum(e*e11) AS g11,
         sum(e*e12) AS g12,
         sum(e*e13) AS g13,
         sum(e*e14) AS g14,
         sum(e*e15) AS g15,
         sum(e*e16) AS g16,
         sum(e*e17) AS g17,
         sum(e*e18) AS g18,
         sum(e*e19) AS g19,
         sum(e*e20) AS g20,
         sum(e*e21) AS g21,
         sum(e*e22) AS g22,
         sum(e*e23) AS g23,
         sum(e*e24) AS g24,
         sum(e*e25) AS g25,
         sum(e*e26) AS g26,
         sum(e*e27) AS g27,
         sum(e*e28) AS g28,
         sum(e*e29) AS g29,
         sum(e*e30) AS g30
  FROM sp
), bwc AS (
  SELECT *, floor(4.0*pow(CAST(n AS DOUBLE)/100.0, 0.25)) AS bw FROM agg
), lrvc AS (
  SELECT *, g0/CAST(n AS DOUBLE)
           + 2.0*greatest(0.0, 1.0 - 1.0/(bw + 1))*(coalesce(g1, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 2.0/(bw + 1))*(coalesce(g2, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 3.0/(bw + 1))*(coalesce(g3, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 4.0/(bw + 1))*(coalesce(g4, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 5.0/(bw + 1))*(coalesce(g5, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 6.0/(bw + 1))*(coalesce(g6, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 7.0/(bw + 1))*(coalesce(g7, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 8.0/(bw + 1))*(coalesce(g8, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 9.0/(bw + 1))*(coalesce(g9, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 10.0/(bw + 1))*(coalesce(g10, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 11.0/(bw + 1))*(coalesce(g11, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 12.0/(bw + 1))*(coalesce(g12, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 13.0/(bw + 1))*(coalesce(g13, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 14.0/(bw + 1))*(coalesce(g14, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 15.0/(bw + 1))*(coalesce(g15, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 16.0/(bw + 1))*(coalesce(g16, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 17.0/(bw + 1))*(coalesce(g17, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 18.0/(bw + 1))*(coalesce(g18, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 19.0/(bw + 1))*(coalesce(g19, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 20.0/(bw + 1))*(coalesce(g20, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 21.0/(bw + 1))*(coalesce(g21, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 22.0/(bw + 1))*(coalesce(g22, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 23.0/(bw + 1))*(coalesce(g23, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 24.0/(bw + 1))*(coalesce(g24, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 25.0/(bw + 1))*(coalesce(g25, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 26.0/(bw + 1))*(coalesce(g26, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 27.0/(bw + 1))*(coalesce(g27, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 28.0/(bw + 1))*(coalesce(g28, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 29.0/(bw + 1))*(coalesce(g29, 0.0)/CAST(n AS DOUBLE))
           + 2.0*greatest(0.0, 1.0 - 30.0/(bw + 1))*(coalesce(g30, 0.0)/CAST(n AS DOUBLE)) AS lrv
  FROM bwc
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(CASE WHEN n >= 3 AND lrv > 0
                  THEN (ss/(CAST(n AS DOUBLE)*n))/lrv END, 6) AS eta,
       CAST(bw AS BIGINT) AS bandwidth,
       round(0.463, 6) AS critical_05,
       CASE WHEN n >= 3 AND lrv > 0
            THEN (ss/(CAST(n AS DOUBLE)*n))/lrv > 0.463 END
         AS reject_stationarity
FROM lrvc
"""

    # The fixed-width writer/reader seam is lossless for these fields:
    # the oracle is the direct projection.
    o["source_fixed_width_roundtrip"] = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
         AS o_totalprice,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
       o_orderpriority
FROM orders
"""

    # Same complete-case ten-sum moments, same Yule recursion, same
    # Fisher-z/Phi tail.
    o["stats_partial_corr"] = """
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y,
         CAST(l_discount AS DOUBLE) AS z
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL
), agg AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
         sum(x*x) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz,
         sum(x*y) AS sxy, sum(x*z) AS sxz, sum(y*z) AS syz
  FROM base
), c AS (
  SELECT n,
         CASE WHEN (CAST(n AS DOUBLE)*sxx - sx*sx)*(CAST(n AS DOUBLE)*syy - sy*sy) > 0 THEN (CAST(n AS DOUBLE)*sxy - sx*sy)/sqrt((CAST(n AS DOUBLE)*sxx - sx*sx)*(CAST(n AS DOUBLE)*syy - sy*sy)) END AS rxy,
         CASE WHEN (CAST(n AS DOUBLE)*sxx - sx*sx)*(CAST(n AS DOUBLE)*szz - sz*sz) > 0 THEN (CAST(n AS DOUBLE)*sxz - sx*sz)/sqrt((CAST(n AS DOUBLE)*sxx - sx*sx)*(CAST(n AS DOUBLE)*szz - sz*sz)) END AS rxz,
         CASE WHEN (CAST(n AS DOUBLE)*syy - sy*sy)*(CAST(n AS DOUBLE)*szz - sz*sz) > 0 THEN (CAST(n AS DOUBLE)*syz - sy*sz)/sqrt((CAST(n AS DOUBLE)*syy - sy*sy)*(CAST(n AS DOUBLE)*szz - sz*sz)) END AS ryz
  FROM agg
), pc AS (
  SELECT *, CASE WHEN (1.0 - rxz*rxz)*(1.0 - ryz*ryz) > 0
                 THEN (rxy - rxz*ryz)
                      /sqrt((1.0 - rxz*rxz)*(1.0 - ryz*ryz)) END AS pr
  FROM c
), zz AS (
  SELECT *, CASE WHEN n > 4 AND abs(pr) < 1
                 THEN 0.5*ln((1.0 + pr)/(1.0 - pr))
                      *sqrt(CAST(n AS DOUBLE) - 4) END AS z
  FROM pc
), ph AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS tt FROM zz)
SELECT CAST(n AS BIGINT) AS n, round(rxy, 6) AS r_xy,
       round(rxz, 6) AS r_xz, round(ryz, 6) AS r_yz,
       round(pr, 6) AS partial_r, round(z, 6) AS z,
       round(CASE WHEN z IS NOT NULL THEN least(
         2.0*(exp(-z*z/2.0)/2.5066282746310002)
           *(tt*(0.319381530 + tt*(-0.356563782 + tt*(1.781477937
              + tt*(-1.821255978 + tt*1.330274429))))), 1.0) END, 6)
         AS p_value
FROM ph
"""

    return o


# ---------------------------------------------------------------------------
# contract / extras split
# ---------------------------------------------------------------------------

# The driver records at most the FIRST 50 ``queries()`` entries, so the
# contract is exactly 50 names spanning every operator family in
# SURVEY.md §2 (round 2 declared 71 and positions 51-71 went unrecorded).
# Hash-checked queries come first; the four expensive/stochastic runs
# (LDA train/infer/coherence, the real stateful streaming job) are LAST
# so a wall-clock-budgeted driver run truncates at rows-only checks,
# never at hash-checked ones.  Everything displaced by the cap lives in
# EXTRA_QUERIES, hash-verified by the identical DuckDB comparison in
# tests/test_extra_oracle.py (and by tools/check_oracle.py).
#
# ROTATION RULE (round 10): the 50-slot window is fixed while the
# registry keeps growing, so when a round adds a genuinely NEW operator
# family, rotate ONE representative of it into the contract block and
# demote a redundant slot from an over-represented family to
# EXTRA_QUERIES (it stays hash-gated there — the move changes which 50
# rows the driver's report shows, never what is verified).  Round 10
# rotated in ml_kmeans_fit (distributed ML fits) and
# stream_page_hinkley (streaming ledger readouts), demoting
# dedup_jaccard_pairs (dedup held 6 of 50 slots) and stream_dedup (the
# third of three batch-twin streaming slots).
CONTRACT_QUERIES: list[str] = [
    # LDA dataflow (SQL-expressible stages)
    "lda_vocab",
    "source_plda_roundtrip",
    # relational: scans / aggregation / sorts
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    # relational: joins
    "join_shapes",
    "join_full_outer_daily",
    "join_asof",
    "join_range",
    # relational: multi-level grouping / windows / pivot / subqueries
    "grouping_sets_rollup_cube",
    "window_top_orders_per_customer",
    "rel_window_analytics",
    "rel_pivot_daily_events",
    "rel_correlated_subquery",
    # relational: set ops / distinct / date / string / JSON
    "setop_purchasers",
    "agg_distinct",
    "orders_monthly_summary",
    "string_part_stats",
    "events_json_props",
    # sources
    "source_jsonl_roundtrip",
    # deduplication
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_decontaminate",
    # similarity search / embedding clustering
    "sim_lsh_topk",
    "sim_ivf_topk",
    "ml_kmeans_assign",
    # text analysis
    "text_quality_langid",
    "text_corpus_stats",
    "text_lm_score",
    "text_winnow_pairs",
    "text_redact_pii",
    # group statistics
    "stats_group_quantiles",
    "stats_corr_matrix",
    # sampling / packing
    "sample_pack_sequences",
    "sample_stratified",
    # curation / classification
    "curation_filters",
    "classify_score",
    # web curation / event analytics
    "web_url_dedup",
    "events_funnel",
    # streaming (batch twins; parity pinned in tests/test_streaming.py)
    "stream_window_aggs",
    "stream_interval_join",
    # distributed ML fits (round-9 family) + streaming ledger readouts
    # (round-10 family) — the two newest-family representatives
    "ml_kmeans_fit",
    "stream_page_hinkley",
    # multimodal
    "multimodal_pipeline",
    # expensive/stochastic LAST (rows-only or long-running)
    "lda_train_topics",
    "lda_infer_theta",
    "lda_topic_coherence",
    "stream_sessionize_stateful",
]

EXTRA_QUERIES: list[str] = [
    "lda_word_totals",
    "lda_top_words_by_lang",
    "join_left_customer_orders",
    "join_semi_big_spenders",
    "join_anti_customers_no_urgent",
    "join_salted_skew",
    "grouping_sets_revenue",
    "rollup_region_nation_revenue",
    "agg_distinct_exact",
    "distinct_daily_active_users",
    "having_loyal_customers",
    "sim_brute_topk",
    "text_token_stats",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_tfidf",
    "text_collocations",
    "text_winnow",
    "text_dedup_paragraphs",
    "dedup_contamination",
    "stats_frequent_items",
    "sample_hash_buckets",
    "sample_chunk_documents",
    "stream_sessionize",
    # round-3 extensions (retrieval / profiling / time-series / graph /
    # sources / skew / relational breadth)
    "text_bm25",
    "stats_profile_columns",
    "stats_rolling_daily",
    "graph_pagerank",
    "graph_ppr",
    "source_csv_roundtrip",
    "source_wet_roundtrip",
    "stream_wet_ingest",
    "stream_top_users",
    "dedup_semantic",
    "stats_key_skew",
    "stats_zscore_outliers",
    "stats_fill_gaps",
    "curation_mixture",
    "q7_volume_shipping",
    "q10_returned_items",
    "q18_large_orders",
    "q6_forecast_revenue",
    "q14_promo_revenue",
    "q8_market_share",
    "q17_small_qty_revenue",
    "join_fuzzy_pairs",
    "stats_histogram",
    "dedup_simhash_pairs",
    "sim_near_dup_blocked",
    "events_retention",
    "stats_ewma",
    "curation_calibrate",
    "sample_reservoir",
    "graph_triangles",
    "stats_mad_outliers",
    "curation_pipeline",
    "curation_dsir",
    "dedup_spans",
    "join_asof_forward",
    "stats_cms_range",
    "q4_order_priority",
    "q9_product_profit",
    "q11_important_parts",
    "q12_priority_by_status",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_counts",
    "q19_bracket_revenue",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "curation_temperature",
    "dedup_cross",
    "layout_zorder",
    "text_lm_score_kn",
    # round-4 extensions: the last TPC-H shape (22/22), the two-table
    # fuzzy-join variant, and the published Gopher/C4 curation rules
    "q2_min_cost_supplier",
    "join_fuzzy_tables",
    "text_gopher_filters",
    "text_c4_clean",
    "stream_session_window",
    "curation_ppl_buckets",
    "sim_ivfpq_topk",
    "sim_ivfpq_index",
    "text_gopher_repetition",
    # round-5 extensions: raw WARC (HTML) ingest — the step before WET
    # in a Common Crawl pipeline
    "source_warc_roundtrip",
    "stream_warc_ingest",
    "layout_compact",
    "web_boilerplate_extract",
    "web_domain_filter",
    "text_split_sentences",
    "dedup_sentences_global",
    "pipeline_crawl_to_corpus",
    "text_normalize_nfc",
    "stats_hist_range",
    "sample_weighted",
    "join_interval_overlap",
    "sample_leakage_safe_split",
    "source_snapshot_roundtrip",
    "source_snapshot_merge",
    "source_snapshot_changes",
    "pipeline_snapshot_incr_agg",
    "source_snapshot_evolution",
    "sample_contrastive_negs",
    "source_orc_roundtrip",
    "events_transition_matrix",
    "sim_quantize_int8",
    "multimodal_image_neardup",
    "dedup_containment_pairs",
    "events_attribution",
    "text_char_entropy",
    "text_ngram_novelty",
    "text_zipf_fit",
    "source_snapshot_delete_keys",
    "stats_kmv_probes",
    "stats_bloom_probes",
    "stats_decayed_counts",
    "sample_neyman",
    "curation_embedding_drift",
    "text_rake_keywords",
    "text_lm_score_kn3",
    "stream_interval_join_outer",
    "curation_drift",
    "sim_sq8_topk",
    "sim_matryoshka_topk",
    "events_rfm",
    "text_readability",
    "multimodal_audio_neardup",
    "layout_hilbert",
    "stats_bootstrap_ci",
    "stream_snapshot_takedown",
    "stats_gini_concentration",
    "curation_token_budget",
    "events_forecast_backtest",
    # round-6 extensions
    "text_index_phrase",
    "text_index_boolean",
    "source_snapshot_rollback",
    "events_assoc_rules",
    "web_frontier_schedule",
    "sample_kcenter",
    "stats_seasonal_decompose",
    "source_snapshot_optimize",
    "graph_lpa",
    "stats_decayed_moments",
    "multimodal_image_stats",
    "curation_quantile_norm",
    "stats_ks_test",
    "stats_chi2_independence",
    "curation_winsorize",
    "events_attribution_position",
    "stats_hist_ks",
    "classify_calibration",
    "classify_lift",
    "pipeline_curation_v2",
    "stream_hist_drift",
    "stats_mannwhitney",
    "curation_ess",
    "stats_welch_ttest",
    "stats_bh_fdr",
    "stats_benford",
    "stats_weighted_quantiles",
    "privacy_k_anonymity",
    "privacy_dp_counts",
    "graph_link_prediction",
    "events_markov_attribution",
    "stats_psi",
    "stats_kruskal_wallis",
    "stats_trend",
    "text_rrf_fusion",
    "text_vocab_coverage",
    "stats_jackknife_ratio",
    "events_kaplan_meier",
    "graph_hits",
    "privacy_l_diversity",
    "text_vocab_richness",
    "sim_mmr_rerank",
    "stats_hist_psi",
    "stream_hist_psi",
    "stats_cusum",
    "sample_curriculum",
    "stats_acf",
    "pipeline_daily_anomaly",
    "stats_spearman",
    "events_ltv_cohorts",
    "stats_mutual_information",
    "events_top_paths",
    "events_sessions",
    "stats_conformal",
    "privacy_rand_response",
    "sample_balanced",
    "classify_nb",
    "events_funnel_latency",
    "sample_interleave",
    "events_stickiness",
    "ml_silhouette",
    "events_pit_features",
    "stats_anova_f",
    "stats_levene_bf",
    "stats_paired_ttest",
    "events_abtest",
    "ml_ols",
    "ml_pca2",
    "rec_item_cf",
    "graph_kcore",
    "ml_logreg",
    "stats_kendall_tau",
    "stats_cochran_armitage",
    "events_ab_power",
    "join_asof_nearest",
    "text_textrank",
    "stream_abtest",
    "stats_by_fdr",
    "events_uplift_segments",
    "graph_powerlaw",
    "ml_knn",
    "graph_modularity",
    "privacy_dp_quantile",
    "curation_pareto_docs",
    "graph_assortativity",
    "graph_clustering",
    "graph_reciprocity",
    "classify_auc",
    "stats_cohens_kappa",
    "text_rank_eval",
    "stats_brown_smoothing",
    "ml_decision_stump",
    "events_ab_srm",
    "stats_combine_pvalues",
    "stats_tost",
    "stats_xi_daily",
    "events_capture_recapture",
    "graph_bfs",
    "curation_dataset_card",
    "sample_maxcover",
    "stats_ljung_box",
    "events_retention_halflife",
    "stream_ab_srm",
    "stats_mcnemar",
    "stats_runs_daily",
    "stats_granger_daily",
    "stats_pacf_daily",
    "text_burstiness",
    "stats_effect_size",
    "stats_mean_mde",
    "events_cuped",
    "events_msprt",
    "text_yule_k",
    "curation_theil",
    "graph_degree_gini",
    "stats_holm",
    "stats_bayes_ab",
    "stats_page_hinkley",
    "stats_posthoc",
    "events_bass",
    "text_source_jsd",
    "stats_gtest",
    "stats_storey",
    "classify_pr_auc",
    "classify_report",
    "stats_seasonal_strength",
    "stats_hurst",
    "stats_gpd_tail",
    "stats_wilson_ci",
    "stream_bayes",
    "stats_dominant_period",
    "events_burstiness",
    "graph_centralization",
    # demoted from the contract block by the round-10 rotation (see the
    # ROTATION RULE comment above CONTRACT_QUERIES) — still hash-gated
    # here like every extra
    "dedup_jaccard_pairs",
    "stream_dedup",
    # round-10 additions
    "stats_mood_median",
    "stats_cvm",
    "stats_gev_maxima",
    "text_heaps",
    "classify_mcc",
    "text_script_mix",
    "stats_hist_cvm",
    "stream_hist_cvm",
    "stats_friedman",
    "stats_kpss",
    "source_fixed_width_roundtrip",
    "stats_partial_corr",
    # round-11 additions
    "stats_ad",
    "stats_hist_ad",
    "stream_hist_ad",
    "tok_byte_bpe",
    "stats_qdigest",
    "stream_qdigest",
    "dedup_longest_spans",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The 50 driver-recorded contract queries, in recording order."""
    defs = _all_query_defs()
    return {n: defs[n] for n in CONTRACT_QUERIES}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Beyond-the-cap queries, hash-verified by the pytest oracle gate."""
    defs = _all_query_defs()
    return {n: defs[n] for n in EXTRA_QUERIES}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    defs = _all_query_defs()
    return {n: defs[n] for n in CONTRACT_QUERIES + EXTRA_QUERIES}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracles for the contract queries (driver-consumed)."""
    sqls = _all_oracle_sql()
    return {n: sqls[n] for n in CONTRACT_QUERIES if n in sqls}


def extra_oracle_sql() -> dict[str, str]:
    sqls = _all_oracle_sql()
    return {n: sqls[n] for n in EXTRA_QUERIES if n in sqls}
