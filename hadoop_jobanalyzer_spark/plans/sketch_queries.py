"""Sketch / graph / search queries q118-q123: HyperLogLog register
tables, KMV distinct estimates, a triangle census, positional phrase
search, a market-share star join, and the exact prefix-filtered
set-similarity join.

Same contract as the other plan modules: each query is a (DataFrame
builder, DuckDB oracle SQL) pair. Determinism rules are the repo-wide
ones — the portable md5 hash for anything randomized, integer
cross-multiplication for thresholds, exact decimals for money, float
division only once at the very end with identical parenthesization in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_jobanalyzer_spark.plans.tables import load_tables, session_cached
from hadoop_jobanalyzer_spark.util import capture_plan, materialize

# portable 60-bit md5 hash, SQL form (the Spark form is
# operators.sketches.portable_hash60)
_H60 = "('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT"


# --- q118: HyperLogLog register table ----------------------------------------

_HLL_P = 6  # m = 64 registers


def q118_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL register table over user_id (operators/
    sketches.hll_register_table): the distributed-sketch building block —
    one partial-aggregated max collapses any volume of events to at most
    types x 64 rows before the only exchange. The register relation (not
    a float estimate) is the query output, so it is bit-exact across
    engines and re-aggregable (daily -> monthly merge is the same MAX)."""
    from hadoop_jobanalyzer_spark.operators.sketches import hll_register_table

    ev = load_tables(spark, sf_dir)["events"]
    return (
        hll_register_table(ev, "event_type", "user_id", p=_HLL_P)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type", "register")
    )


Q118_SQL = f"""
WITH h AS (
  SELECT event_type, {_H60.format(col="user_id")} AS h FROM events
),
r AS (
  SELECT event_type, h % 64 AS register,
         CASE WHEN h // 64 > 0
              THEN 55 - LENGTH(FORMAT('{{:b}}', h // 64))
              ELSE 55 END AS rho
  FROM h
)
SELECT event_type, register, CAST(MAX(rho) AS INTEGER) AS max_rho
FROM r GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- q119: KMV distinct-count sketch -----------------------------------------

_KMV_K = 8


def q119_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-user estimate per event type
    (operators/sketches.kmv_distinct). The rank<=k filter is rewritten by
    Spark's WindowGroupLimit into per-partition top-k, so only ~k rows
    per partition reach the per-group sort. est_distinct is a single
    IEEE division of an exactly-representable numerator — bit-identical
    in any engine."""
    from hadoop_jobanalyzer_spark.operators.sketches import kmv_distinct

    ev = load_tables(spark, sf_dir)["events"]
    return (
        kmv_distinct(ev, "event_type", "user_id", k=_KMV_K)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    )


Q119_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type, {_H60.format(col="user_id")} AS h FROM events
),
r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM h
)
SELECT event_type, h AS kth_min_hash,
       ({_KMV_K - 1}.0 * 1152921504606846976.0) / h AS est_distinct
FROM r WHERE rk = {_KMV_K} ORDER BY event_type
"""


# --- co-purchase graph (shared by q120/q125/q131) ----------------------------

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical distinct part co-purchase pairs (a < b), persisted once
    per (session, sf_dir): the registered graph queries (triangle census,
    degree distribution, PageRank, ...) share the same lineitem self-join
    + distinct, so the build runs once and the 1.2M-row edge list is
    served from cache thereafter (``tables.release_session_caches``
    evicts it). At warehouse scale this is exactly the materialized edge
    table a graph workload would maintain."""

    def build() -> tuple[DataFrame, list[DataFrame]]:
        built = _build_copurchase_edges(spark, sf_dir)
        capture_plan(built)  # persist hides the build plan from consumers
        edges = built.persist()
        return edges, [edges]

    return session_cached(spark, "copurchase_edges", sf_dir, build)


def _build_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical (src < dst) distinct co-purchase edge plan, uncached —
    the shared lineage behind both the session cache and the bucketed
    write."""
    li = load_tables(spark, sf_dir)["lineitem"]
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def write_copurchase_edges_bucketed(
    spark: SparkSession,
    sf_dir: str,
    name: str = "copurchase_edges",
    n_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Materialize the co-purchase edge table as a BUCKETED catalog table —
    the durable form of the session cache for cluster deployments.

    The session-persisted edge cache dies with the session (and with any
    executor under dynamic allocation); at warehouse scale the edge table
    is maintained as storage, written once per corpus snapshot, and every
    graph query reads it co-located. Bucketing by ``src`` (sorted
    ``src, dst``) moves the adjacency-build shuffle to write time: a
    ``groupBy("src")`` or self-join on ``src`` over this table plans with
    no Exchange on the bucketed side (tests/test_bucketed.py pins it).
    The rows are already canonical (src < dst, distinct), so consumers
    pass ``triangle_stats(..., canonical=True)`` and skip the canonize
    shuffle too.

    ``n_buckets`` sizes future bucket-local parallelism — fixed at write
    time, so choose for the target volume (64 here suits the sf0.1-x10
    probe range; hundreds at 100 TB).
    """
    from hadoop_jobanalyzer_spark.sources.bucketed import write_bucketed

    write_bucketed(
        _build_copurchase_edges(spark, sf_dir),
        name,
        ["src"],
        n_buckets,
        sort_cols=["src", "dst"],
        path=path,
    )


def copurchase_edges_from_table(
    spark: SparkSession, name: str = "copurchase_edges"
) -> DataFrame:
    """Read the bucketed edge table written by
    ``write_copurchase_edges_bucketed`` (bucket metadata rides along from
    the catalog, so downstream src-keyed operations stay Exchange-free)."""
    from hadoop_jobanalyzer_spark.sources.bucketed import read_table

    return read_table(spark, name)


# --- q120: co-purchase triangle census ---------------------------------------


def q120_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts joined by
    appearing in the same order). Pair generation is bounded by order
    size; triangles use degree orientation (operators/graph.
    triangle_stats) so hub parts cannot blow up the wedge join. Output is
    one row (n_edges, n_wedges, n_triangles) — the clustering-coefficient
    numerators, exactly. Degree orientation and the oracle's id
    orientation count identical triangles (any consistent total order
    counts each exactly once).

    The cached edges are canonical (src < dst, distinct), but
    ``canonical=True`` is deliberately not passed: the cache keeps
    ``spark.sql.shuffle.partitions`` partitions (AQE may not re-partition
    a cached plan's output), while the canonize distinct lets AQE
    coalesce them. On a 4-core host (local[4], 32 partitions) the
    canonical path measured ~0.7 s slower at sf0.005; at sf0.1 the two
    paths tie."""
    from hadoop_jobanalyzer_spark.operators.graph import triangle_stats

    return triangle_stats(_copurchase_edges(spark, sf_dir))


Q120_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
  GROUP BY v
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.pb = e2.pa
  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       n_triangles
FROM tri
"""


# --- q121: positional phrase search ------------------------------------------

_PHRASE = "table scan"


def q121_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-level phrase-occurrence counts (operators/retrieval.
    phrase_hits): a pushdown-able substring prefilter (superset — the
    in-row verify rejects e.g. 'stable scan'), then an in-row shifted-zip
    window compare. Zero joins, zero explode; the only exchange is the
    final sort."""
    from hadoop_jobanalyzer_spark.operators.retrieval import phrase_hits

    docs = load_tables(spark, sf_dir)["documents"]
    return phrase_hits(docs, "doc_id", "text", _PHRASE)


Q121_SQL = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
)
SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_hits
FROM grams WHERE g = '{_PHRASE}'
GROUP BY doc_id
ORDER BY n_hits DESC, doc_id
"""


# --- q122: supplier-nation market share per order-year -----------------------


def q122_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share of each supplier nation within each order year, for
    orders placed by AMERICA-region customers — the TPC-H Q8 shape
    re-expressed: fact scan joins broadcast dimension chains (supplier ->
    nation; customer -> nation -> region), per-(year, nation) exact
    decimal revenue, share via a window total per year (25-row window,
    never a second fact scan)."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    cust_dim = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_dim = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    per = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_dim), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"), "supp_nation")
        .agg(F.sum(rev).alias("_rev"))
    )
    total = F.sum("_rev").over(Window.partitionBy("o_year"))
    return (
        per.withColumn("_total", total)
        .select(
            "o_year",
            "supp_nation",
            F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
            F.round(
                F.col("_rev").cast("double") / F.col("_total").cast("double") * 100, 4
            ).alias("share_pct"),
        )
        .orderBy("o_year", F.desc("share_pct"), "supp_nation")
    )


Q122_SQL = """
WITH per AS (
  SELECT YEAR(o_orderdate) AS o_year, n2.n_name AS supp_nation,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  GROUP BY 1, 2
),
w AS (SELECT o_year, supp_nation, rev, SUM(rev) OVER (PARTITION BY o_year) AS total FROM per)
SELECT o_year, supp_nation, CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
       ROUND(CAST(rev AS DOUBLE) / CAST(total AS DOUBLE) * 100, 4) AS share_pct
FROM w
ORDER BY o_year, share_pct DESC, supp_nation
"""


# --- q123: exact prefix-filtered Jaccard self-join ---------------------------

_SETSIM_NGRAM = 3
_SETSIM_T = (7, 10)


def q123_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard >= 0.7 over word
    3-shingles via prefix filtering (operators/setsim.
    prefix_filter_jaccard_pairs) — every qualifying pair, no LSH recall
    loss, no all-pairs stage. The oracle computes the naive exhaustive
    join; equality of the result sets is precisely the prefix-filter
    losslessness theorem."""
    from hadoop_jobanalyzer_spark.operators.setsim import prefix_filter_jaccard_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    return prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", ngram=_SETSIM_NGRAM, threshold=_SETSIM_T
    )


Q123_SQL = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
       ROUND(CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE), 3) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE {_SETSIM_T[1]} * n_common >= {_SETSIM_T[0]} * (sa.n + sb.n - n_common)
ORDER BY id_a, id_b
"""


# --- q124: content-defined chunk dedup (per source) --------------------------

_CDC_WINDOW = 8


def q124_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup profile per source using content-defined
    chunking (functions/text.cdc_boundaries/cdc_chunks_from): documents
    are split at rolling-hash boundaries (local-content-dependent, so
    edits shift at most one chunk), chunk hashes are counted globally,
    and each source reports how much of its character mass sits in
    duplicated chunks — the SlimPajama/LBFS-style dedup signal at
    sub-document granularity, robust to insertions where fixed spans
    (q94) are not.

    Plan: one in-row chunking pass (md5 only at codepoint-gated
    positions — ~1/3 of them, see cdc_boundaries), explode
    to a chunk table (persisted — it feeds the global hash count and the
    per-source rollup), one groupBy on the chunk hash, one join back,
    one per-source agg. Everything between is codegen; the chunk table
    is a fraction of corpus size.
    Output: (source, n_docs, n_chunks, n_dup_chunks, dup_char_frac)."""
    from hadoop_jobanalyzer_spark.functions.text import cdc_boundaries, cdc_chunks_from
    from hadoop_jobanalyzer_spark.util import spread

    docs = spread(load_tables(spark, sf_dir)["documents"])
    chunks = (
        docs.withColumn("_bpos", cdc_boundaries("text", _CDC_WINDOW))
        .select(
            "doc_id",
            "source",
            F.explode(cdc_chunks_from("text", "_bpos")).alias("chunk"),
        )
        .select(
            "doc_id", "source", F.md5("chunk").alias("h"), F.length("chunk").alias("clen")
        )
        .transform(materialize)
    )
    # the global chunk-hash count is corpus-scaled and rides the chunk
    # explode's fanout-blind estimate — pin shuffle-hash so it can never
    # be picked as a runtime broadcast (q235 class, r10 audit)
    counts = chunks.groupBy("h").agg(F.count("*").alias("n_h"))
    dup = F.col("n_h") > 1
    return (
        chunks.join(counts.hint("shuffle_hash"), "h")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_chunks"),
            F.round(
                F.sum(F.when(dup, F.col("clen")).otherwise(0)).cast("double")
                / F.sum("clen").cast("double"),
                4,
            ).alias("dup_char_frac"),
        )
        .orderBy("source")
    )


Q124_SQL = f"""
WITH b AS (
  SELECT doc_id, source, text,
         CASE WHEN len(text) < {_CDC_WINDOW} THEN []
              ELSE list_filter(generate_series({_CDC_WINDOW}, len(text)),
                   i -> ascii(substr(text, i, 1)) % 4 = 0
                        AND substr(md5(substr(text, i - {_CDC_WINDOW - 1}, {_CDC_WINDOW})), 1, 1) = '0')
         END AS bpos
  FROM documents
),
c AS (
  SELECT doc_id, source,
         UNNEST(list_transform(
           list_zip(list_prepend(1, list_transform(bpos, p -> p + 1)),
                    list_append(bpos, len(text))),
           z -> substr(text, z[1], z[2] - z[1] + 1))) AS chunk
  FROM b
),
h AS (SELECT doc_id, source, md5(chunk) AS h, len(chunk) AS clen FROM c),
n AS (SELECT h, COUNT(*) AS n_h FROM h GROUP BY h)
SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       ROUND(CAST(SUM(CASE WHEN n_h > 1 THEN clen ELSE 0 END) AS DOUBLE)
             / CAST(SUM(clen) AS DOUBLE), 4) AS dup_char_frac
FROM h JOIN n USING (h)
GROUP BY source ORDER BY source
"""


# --- q125: co-purchase degree distribution -----------------------------------


def q125_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the part co-purchase graph —
    the skew diagnostic that sizes q120's census (and any graph job) at
    scale: a heavy tail here is what degree orientation defends against.
    One self-join on the order key, one distinct, one degree agg, one
    ~dozen-row histogram agg.
    Output: (deg_bucket, n_parts, min_deg, max_deg)."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    bucket = F.length(F.conv(F.col("d").cast("string"), 10, 2)).cast("int")
    return (
        deg.groupBy(bucket.alias("deg_bucket"))
        .agg(
            F.count("*").alias("n_parts"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
        .orderBy("deg_bucket")
    )


Q125_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
  GROUP BY v
)
SELECT CAST(LENGTH(FORMAT('{:b}', d)) AS INTEGER) AS deg_bucket,
       COUNT(*) AS n_parts, MIN(d) AS min_deg, MAX(d) AS max_deg
FROM deg GROUP BY 1 ORDER BY 1
"""


# --- q126: product-quantization code histogram -------------------------------

_PQ_M = 4       # subspaces
_PQ_K = 8       # codes per subspace
_PQ_SUBDIM = 16  # 64-dim embeddings / 4


def q126_pq_code_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook audit (Jegou et al. TPAMI'11): the
    64-dim embedding splits into 4 subvectors; each is assigned to the
    nearest of 8 per-subspace centroids (seeded from the k lowest-id
    vectors, like q91) under exact integer fixed-point L2. Output is the
    per-(subspace, code) assignment histogram plus total distortion —
    the balance/distortion report that sizes a PQ index before building
    it. Centroids are ONE broadcast row; assignment is an in-row argmin
    over all M x K codes; only the M*K-row histogram shuffles."""
    from hadoop_jobanalyzer_spark.functions.vectors import quantized

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.select(F.col("vec_id").alias("_id"), quantized(F.col("embedding")).alias("_qv"))
    cents = (
        q.orderBy("_id")
        .limit(_PQ_K)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id").alias("cid"), F.col("_qv").alias("cv")))
            ).alias("_cents")
        )
    )
    sub = F.lit(_PQ_SUBDIM)

    def assign(m):
        # argmin over centroids of the exact integer subvector distance
        def dist_to(c):
            d = F.zip_with(
                F.slice(F.col("_qv"), m * _PQ_SUBDIM + 1, _PQ_SUBDIM),
                F.slice(c["cv"], m * _PQ_SUBDIM + 1, _PQ_SUBDIM),
                lambda a, b: (a - b) * (a - b),
            )
            return F.struct(
                F.aggregate(d, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("dist"),
                c["cid"].alias("cid"),
            )

        best = F.array_min(F.transform(F.col("_cents"), dist_to))
        return F.struct(
            F.lit(m).alias("subspace"), best["cid"].alias("code"), best["dist"].alias("dist")
        )

    codes = F.array(*[assign(m) for m in range(_PQ_M)])
    return (
        q.crossJoin(F.broadcast(cents))
        .select(F.explode(codes).alias("a"))
        .groupBy(F.col("a.subspace").alias("subspace"), F.col("a.code").alias("code"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("a.dist").alias("sum_dist_fixed"),
        )
        .orderBy("subspace", "code")
    )


Q126_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
c AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {_PQ_K}),
d AS (
  SELECT q.vec_id, m.m, c.cid,
         list_sum(list_transform(generate_series(1, {_PQ_SUBDIM}),
                  i -> (qv[m.m * {_PQ_SUBDIM} + i] - cv[m.m * {_PQ_SUBDIM} + i])
                     * (qv[m.m * {_PQ_SUBDIM} + i] - cv[m.m * {_PQ_SUBDIM} + i]))) AS dist
  FROM q
  CROSS JOIN c
  CROSS JOIN (SELECT UNNEST(generate_series(0, {_PQ_M - 1})) AS m) m
),
a AS (
  SELECT vec_id, m, cid, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
  FROM d
)
SELECT m AS subspace, cid AS code, COUNT(*) AS n_vecs,
       CAST(SUM(dist) AS BIGINT) AS sum_dist_fixed
FROM a WHERE rn = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- q127: relational division -----------------------------------------------


def q127_full_coverage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: customers whose orders cover EVERY order
    priority, rolled up per nation. The divisor cardinality is a 1-row
    broadcast (never hardcoded); the division itself is the standard
    count-distinct == total rewrite — one fact agg, no per-element
    join loop. Output: (n_name, n_customers)."""
    t = load_tables(spark, sf_dir)
    total = t["orders"].agg(
        F.countDistinct("o_orderpriority").alias("_tot")
    )
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("_np"))
    )
    full = per_cust.join(F.broadcast(total)).filter(F.col("_np") == F.col("_tot"))
    return (
        full.join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )


Q127_SQL = """
WITH tot AS (SELECT COUNT(DISTINCT o_orderpriority) AS t FROM orders),
pc AS (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS np FROM orders GROUP BY 1)
SELECT n_name, COUNT(*) AS n_customers
FROM pc, tot
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE np = t
GROUP BY n_name ORDER BY n_name
"""


# --- q128: exact MAD outliers ------------------------------------------------


def q128_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier counts via the median absolute deviation,
    both medians as EXACT order statistics (lower median, rank
    (n+1)//2 — selection picks an existing value, so no interpolation
    arithmetic can diverge between engines; |x - med| is a single IEEE
    op). Two rank-selection passes, then one agg.
    Output: (event_type, n, median, mad, n_outliers) where outliers are
    |x - median| > 3 * mad."""
    ev = load_tables(spark, sf_dir)["events"].select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    n_w = Window.partitionBy("event_type")
    med = (
        ev.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(n_w))
        .withColumn(
            "_med",
            F.max(
                F.when(F.col("_rn") == F.floor((F.col("_n") + 1) / 2), F.col("value"))
            ).over(n_w),
        )
    )
    dev = med.withColumn("_d", F.abs(F.col("value") - F.col("_med")))
    w2 = Window.partitionBy("event_type").orderBy("_d", "event_id")
    mad = (
        dev.withColumn("_rn2", F.row_number().over(w2))
        .withColumn(
            "_mad",
            F.max(F.when(F.col("_rn2") == F.floor((F.col("_n") + 1) / 2), F.col("_d"))).over(n_w),
        )
    )
    return (
        mad.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("_med").alias("median"),
            F.max("_mad").alias("mad"),
            F.sum(F.when(F.col("_d") > 3 * F.col("_mad"), 1).otherwise(0)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


Q128_SQL = """
WITH r AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
m AS (
  SELECT *, MAX(CASE WHEN rn = (n + 1) // 2 THEN value END)
              OVER (PARTITION BY event_type) AS med
  FROM r
),
d AS (
  SELECT *, ABS(value - med) AS dv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(value - med), event_id) AS rn2
  FROM m
),
md AS (
  SELECT *, MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dv END)
              OVER (PARTITION BY event_type) AS mad
  FROM d
)
SELECT event_type, COUNT(*) AS n, MAX(med) AS median, MAX(mad) AS mad,
       CAST(SUM(CASE WHEN dv > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM md GROUP BY event_type ORDER BY event_type
"""


# --- q129: skyline (Pareto frontier) -----------------------------------------


def q129_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of the part table: minimize price, maximize size — no
    other part is cheaper-or-equal AND larger-or-equal with one strict.
    Computed without the O(n^2) self-join: sort by integer price cents,
    two running-max windows (strictly-cheaper vs price-peers) decide
    dominance in one pass. The oracle is the literal NOT EXISTS — the
    window rewrite must reproduce it exactly, ties and duplicates
    included. At scale the dim-table window is trivially small; for a
    fact-sized skyline the standard grid-partition prefilter applies
    first. Output: (p_partkey, price_c, p_size)."""
    part = load_tables(spark, sf_dir)["part"]
    price_c = F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long")
    p = part.select("p_partkey", price_c.alias("price_c"), "p_size")
    w_lt = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    w_le = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, 0)
    flagged = p.select(
        "p_partkey",
        "price_c",
        "p_size",
        F.coalesce(F.max("p_size").over(w_lt), F.lit(-(1 << 31))).alias("_m_lt"),
        F.max("p_size").over(w_le).alias("_m_le"),
    )
    return (
        flagged.filter(~((F.col("_m_lt") >= F.col("p_size")) | (F.col("_m_le") > F.col("p_size"))))
        .select("p_partkey", "price_c", "p_size")
        .orderBy("price_c", "p_partkey")
    )


Q129_SQL = """
WITH p AS (
  SELECT p_partkey, CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c, p_size
  FROM part
)
SELECT p_partkey, price_c, p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
    AND (b.price_c < a.price_c OR b.p_size > a.p_size)
)
ORDER BY price_c, p_partkey
"""


# --- q130: Merkle-style table checksums --------------------------------------

_CHECKSUM_BUCKETS = 16


def q130_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy bucket checksums for the documents table: rows hash
    to one of 16 buckets (portable md5), each bucket reports its count
    and the XOR of its row hashes. XOR is commutative/associative and
    overflow-free, so the checksum is order-independent, partial-agg
    friendly, and two replicas can locate a divergent bucket by
    comparing 16 rows instead of shipping the table (the Merkle/
    Cassandra repair scheme, one level deep).
    Output: (bucket, n_rows, checksum)."""
    from hadoop_jobanalyzer_spark.operators.sketches import portable_hash60

    docs = load_tables(spark, sf_dir)["documents"]
    row_h = portable_hash60(
        F.concat_ws("|", "doc_id", "text", "lang", "source", "n_chars")
    )
    return (
        docs.select((F.col("doc_id") % _CHECKSUM_BUCKETS).alias("bucket"), row_h.alias("_h"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"), F.bit_xor("_h").alias("checksum"))
        .orderBy("bucket")
    )


Q130_SQL = f"""
SELECT doc_id % {_CHECKSUM_BUCKETS} AS bucket, COUNT(*) AS n_rows,
       bit_xor(('0x' || substr(md5(concat_ws('|', doc_id, text, lang, source, n_chars)), 1, 15))::BIGINT) AS checksum
FROM documents
GROUP BY 1 ORDER BY 1
"""


# --- q131: fixed-point PageRank ----------------------------------------------

_PR_ITERS = 3


def q131_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by 3-iteration fixed-point PageRank over the
    co-purchase graph (operators/graph.pagerank_fixed): damping as the
    rational 17/20 and all arithmetic integer, so the iterative
    computation is bit-reproducible and oracle-able (the DuckDB oracle
    unrolls the same three iterations). Per iteration one neighbor-sum
    shuffle; the loop unrolls into a single plan with no driver
    barrier."""
    from hadoop_jobanalyzer_spark.operators.graph import pagerank_fixed

    return (
        pagerank_fixed(_copurchase_edges(spark, sf_dir), iters=_PR_ITERS, canonical=True)
        .orderBy(F.desc("rank_fixed"), "v")
        .limit(20)
    )


Q131_SQL = """
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (SELECT pa AS s, pb AS t FROM e0 UNION SELECT pb, pa FROM e0),
deg AS (SELECT s AS v, COUNT(*) AS d FROM sym GROUP BY 1),
r0 AS (SELECT v, CAST(1048576 AS BIGINT) AS r FROM deg),
c1 AS (SELECT sym.t AS v, SUM(r0.r // deg.d) AS s
       FROM sym JOIN r0 ON sym.s = r0.v JOIN deg ON sym.s = deg.v GROUP BY 1),
r1 AS (SELECT deg.v, 157286 + (17 * COALESCE(c1.s, 0)) // 20 AS r
       FROM deg LEFT JOIN c1 ON deg.v = c1.v),
c2 AS (SELECT sym.t AS v, SUM(r1.r // deg.d) AS s
       FROM sym JOIN r1 ON sym.s = r1.v JOIN deg ON sym.s = deg.v GROUP BY 1),
r2 AS (SELECT deg.v, 157286 + (17 * COALESCE(c2.s, 0)) // 20 AS r
       FROM deg LEFT JOIN c2 ON deg.v = c2.v),
c3 AS (SELECT sym.t AS v, SUM(r2.r // deg.d) AS s
       FROM sym JOIN r2 ON sym.s = r2.v JOIN deg ON sym.s = deg.v GROUP BY 1),
r3 AS (SELECT deg.v, 157286 + (17 * COALESCE(c3.s, 0)) // 20 AS r
       FROM deg LEFT JOIN c3 ON deg.v = c3.v)
SELECT v, CAST(r AS BIGINT) AS rank_fixed
FROM r3 ORDER BY r DESC, v LIMIT 20
"""


# --- q132: order/shipment reconciliation (full outer join) -------------------


def q132_order_ship_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly reconciliation of two views of the same business process:
    orders placed (by order date) vs orders shipped (distinct order keys
    by ship date). FULL OUTER join keeps months present on either side
    only — the audit shape where an inner join would silently hide
    exactly the discrepant months being hunted. Diff is exact integer.
    Output: (month, n_placed, n_shipped, diff)."""
    t = load_tables(spark, sf_dir)
    placed = (
        t["orders"]
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count("*").alias("n_placed"))
    )
    shipped = (
        t["lineitem"]
        .groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(F.countDistinct("l_orderkey").alias("n_shipped"))
    )
    return (
        placed.join(shipped, "month", "full_outer")
        .select(
            "month",
            F.coalesce("n_placed", F.lit(0)).alias("n_placed"),
            F.coalesce("n_shipped", F.lit(0)).alias("n_shipped"),
            (
                F.coalesce("n_placed", F.lit(0)) - F.coalesce("n_shipped", F.lit(0))
            ).alias("diff"),
        )
        .orderBy("month")
    )


Q132_SQL = """
WITH placed AS (
  SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_placed
  FROM orders GROUP BY 1
),
shipped AS (
  SELECT date_trunc('month', l_shipdate) AS month,
         COUNT(DISTINCT l_orderkey) AS n_shipped
  FROM lineitem GROUP BY 1
)
SELECT COALESCE(placed.month, shipped.month) AS month,
       COALESCE(n_placed, 0) AS n_placed,
       COALESCE(n_shipped, 0) AS n_shipped,
       COALESCE(n_placed, 0) - COALESCE(n_shipped, 0) AS diff
FROM placed FULL OUTER JOIN shipped ON placed.month = shipped.month
ORDER BY month
"""


# --- q133: grouped top-k with ties (rank) ------------------------------------


def q133_top_sizes_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 part sizes per brand by frequency, KEEPING ties — rank()
    rather than row_number(), so every size tied at the cut survives
    (the semantics difference that silently drops rows when the wrong
    ranking function is picked). Count ties are common on integer
    sizes, which is exactly why the output is deterministic only if the
    tie semantics match the oracle's."""
    t = load_tables(spark, sf_dir)
    counts = t["part"].groupBy("p_brand", "p_size").agg(F.count("*").alias("n"))
    w = Window.partitionBy("p_brand").orderBy(F.desc("n"))
    return (
        counts.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 2)
        .orderBy("p_brand", "rnk", "p_size")
    )


Q133_SQL = """
WITH c AS (SELECT p_brand, p_size, COUNT(*) AS n FROM part GROUP BY 1, 2),
r AS (SELECT *, RANK() OVER (PARTITION BY p_brand ORDER BY n DESC) AS rnk FROM c)
SELECT p_brand, p_size, n, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 2
ORDER BY p_brand, rnk, p_size
"""


# --- q134: referential-integrity audit ---------------------------------------


def q134_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key violation census across the star schema: one row per
    relationship with its orphan count (anti-join against the referenced
    key set). A healthy pipeline reports zeros — the value is the audit
    running at all: each check is a left-anti join that AQE broadcasts
    when the dimension side fits, and the output is fixed at one row per
    relationship regardless of fact volume.
    Output: (relationship, n_rows, n_orphans)."""
    t = load_tables(spark, sf_dir)

    def check(name, fact, fk, dim, pk):
        orphans = fact.join(dim, fact[fk] == dim[pk], "left_anti")
        return (
            fact.agg(F.count("*").alias("n_rows"))
            .join(F.broadcast(orphans.agg(F.count("*").alias("n_orphans"))))
            .select(F.lit(name).alias("relationship"), "n_rows", "n_orphans")
        )

    checks = [
        check("lineitem.l_orderkey -> orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        check("lineitem.l_partkey -> part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        check("lineitem.l_suppkey -> supplier", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        check("orders.o_custkey -> customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        check("customer.c_nationkey -> nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        check("supplier.s_nationkey -> nation", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.orderBy("relationship")


Q134_SQL = """
SELECT * FROM (
  SELECT 'lineitem.l_orderkey -> orders' AS relationship,
         (SELECT COUNT(*) FROM lineitem) AS n_rows,
         (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
  UNION ALL
  SELECT 'customer.c_nationkey -> nation',
         (SELECT COUNT(*) FROM customer),
         (SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
  UNION ALL
  SELECT 'supplier.s_nationkey -> nation',
         (SELECT COUNT(*) FROM supplier),
         (SELECT COUNT(*) FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
)
ORDER BY relationship
"""


# --- q135: cross-split leakage report ----------------------------------------

_LEAK_MAX_DF = 20


def q135_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: document pairs in DIFFERENT splits
    that share a winnowing fingerprint (operators/functions reused from
    q31/q43). Fingerprints in more than ``_LEAK_MAX_DF`` documents are
    excluded as boilerplate — rare shared content is the leakage signal,
    ubiquitous content is not, and the cap simultaneously bounds the
    pair join (the q22 stop-key discipline). This is the eval-integrity
    gate a training pipeline runs before every data release: a near-dup
    of a test document inside train silently inflates benchmarks.
    Output: (split_a, split_b, n_pairs, n_fps)."""
    from hadoop_jobanalyzer_spark.functions.text import winnow_fingerprints
    from hadoop_jobanalyzer_spark.operators.sampling import train_val_test

    docs = load_tables(spark, sf_dir)["documents"]
    fps = winnow_fingerprints(docs, "doc_id", "text", ngram=3, window=4)
    fpx = fps.withColumn("split", train_val_test(F.col("doc_id"))).transform(materialize)
    keep = fpx.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("_df")
    ).filter(F.col("_df") <= _LEAK_MAX_DF)
    a = fpx.select(F.col("fp"), F.col("doc_id").alias("da"), F.col("split").alias("_sa"))
    b = fpx.select(F.col("fp"), F.col("doc_id").alias("db"), F.col("split").alias("_sb"))
    # both joins pinned shuffle-hash: keep (fingerprint-vocab-scaled) and
    # the fpx sides (corpus-scaled) all ride fanout-blind explode/RDD
    # estimates — the q235 runtime-broadcast abort class (r10 audit). The
    # three legs share the fp hash partitioning, so the pins add no
    # Exchange beyond the one each leg needs anyway.
    pairs = (
        a.join(keep.select("fp").hint("shuffle_hash"), "fp")
        .join(b.hint("shuffle_hash"), "fp")
        .filter((F.col("da") < F.col("db")) & (F.col("_sa") != F.col("_sb")))
        .select(
            "fp",
            "da",
            "db",
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
    )
    return (
        pairs.groupBy("split_a", "split_b")
        .agg(
            F.countDistinct("da", "db").alias("n_pairs"),
            F.countDistinct("fp").alias("n_fps"),
        )
        .orderBy("split_a", "split_b")
    )


Q135_SQL = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
hashes AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(w) - 2),
                        i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8))::BIGINT) AS h
  FROM words WHERE len(w) >= 3
),
fps AS (
  SELECT doc_id,
         CASE WHEN len(h) >= 4
              THEN list_distinct(list_transform(generate_series(1, len(h) - 3),
                                                i -> list_min(list_slice(h, i, i + 3))))
              ELSE [list_min(h)] END AS fp
  FROM hashes WHERE len(h) > 0
),
fpx AS (
  SELECT f.doc_id, UNNEST(fp) AS fp,
         CASE WHEN ('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM fps f
),
keep AS (SELECT fp FROM fpx GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= {_LEAK_MAX_DF}),
pairs AS (
  SELECT a.fp, a.doc_id AS da, b.doc_id AS db,
         LEAST(a.split, b.split) AS split_a, GREATEST(a.split, b.split) AS split_b
  FROM fpx a JOIN fpx b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE a.split != b.split AND a.fp IN (SELECT fp FROM keep)
)
SELECT split_a, split_b,
       COUNT(DISTINCT (da, db)) AS n_pairs, COUNT(DISTINCT fp) AS n_fps
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- q136: Count-Min frequency sketch ----------------------------------------

_CMS_D, _CMS_W = 4, 64


def q136_cms_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of part-key frequencies in lineitem
    (operators/sketches.cms_table): 4 salted hash rows x 64 exact
    counters — the frequency-sketch counterpart to q118's HLL (distinct)
    and q119's KMV. Partial-aggregated: each input partition collapses
    to <= 256 rows before the one exchange; sketches merge by summing
    counters. Output: (row, bucket, cnt)."""
    from hadoop_jobanalyzer_spark.operators.sketches import cms_table

    li = load_tables(spark, sf_dir)["lineitem"]
    return cms_table(li, "l_partkey", _CMS_D, _CMS_W).orderBy("row", "bucket")


Q136_SQL = f"""
WITH e AS (
  SELECT l_partkey AS k, UNNEST([{",".join(str(r) for r in range(_CMS_D))}]) AS row
  FROM lineitem
),
b AS (
  SELECT row,
         ('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15))::BIGINT % {_CMS_W} AS bucket
  FROM e
)
SELECT row, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- q137: Bloom-filter bit relation -----------------------------------------

_BLOOM_M, _BLOOM_K = 4096, 3


def q137_customer_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter of the customer key set as an explicit bit relation
    (operators/sketches.bloom_bits): bounded by m rows no matter how
    large the build side, which is what makes it the broadcastable
    semi-join reducer (`bloom_prune` keeps only fact rows whose k bits
    are all set — a guaranteed superset, so pruned-join == plain join).
    Output: (bit)."""
    from hadoop_jobanalyzer_spark.operators.sketches import bloom_bits

    cust = load_tables(spark, sf_dir)["customer"]
    return bloom_bits(cust, "c_custkey", _BLOOM_M, _BLOOM_K).orderBy("bit")


Q137_SQL = f"""
SELECT DISTINCT
       ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % {_BLOOM_M} AS bit
FROM customer, (SELECT UNNEST([{",".join(str(r) for r in range(_BLOOM_K))}]) AS r) t
ORDER BY bit
"""


# --- q138: SCD type-2 interval build -----------------------------------------


def q138_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event stream:
    per user, consecutive duplicate states are compressed to change
    points (event_type != lag), each change opening a validity interval
    closed by the next change (open rows carry the conventional
    2200-01-01 high-date sentinel: NULL would compare NaT != NaT in the
    differential, and 9999-12-31 overflows nanosecond pandas
    timestamps). The
    dimension-maintenance shape every warehouse ingest runs: two window
    functions over one per-user shuffle, no self-join.
    Output: (user_id, state, valid_from, valid_to), users < 50."""
    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id") < 50)
        .select("user_id", F.col("event_type").alias("state"), "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("_prev", F.lag("state").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("state")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    high = F.lit("2200-01-01 00:00:00").cast("timestamp_ntz")
    return (
        changes.withColumn("valid_to", F.coalesce(F.lead("ts").over(w2), high))
        .select(
            "user_id",
            "state",
            F.col("ts").alias("valid_from"),
            "valid_to",
        )
        .orderBy("user_id", "valid_from")
    )


Q138_SQL = """
WITH e AS (
  SELECT user_id, event_type AS state, ts, event_id
  FROM events WHERE user_id < 50
),
c AS (
  SELECT *, LAG(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM e
),
ch AS (SELECT user_id, state, ts, event_id FROM c WHERE prev IS NULL OR prev != state)
SELECT user_id, state, ts AS valid_from,
       COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                TIMESTAMP '2200-01-01 00:00:00') AS valid_to
FROM ch
ORDER BY user_id, valid_from
"""


# --- q139: top event paths (sequence trigrams) -------------------------------


def q139_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step behavioural paths: per user, the time-ordered
    event sequence sliced into sliding trigrams (two leads over one
    per-user shuffle — never a sequence collect), counted corpus-wide.
    The path-analysis shape behind funnel exploration.
    Output: top 10 (path, n_occurrences), count-desc, path tiebreak."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("_e2", F.lead("event_type", 1).over(w))
        .withColumn("_e3", F.lead("event_type", 2).over(w))
        .filter(F.col("_e3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "_e2", "_e3").alias("path")
        )
    )
    return (
        tri.groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(10)
    )


Q139_SQL = """
WITH s AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path, COUNT(*) AS n_occurrences
FROM s WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 10
"""


SKETCH_QUERIES = {
    "q118_hll_registers": (q118_hll_registers, Q118_SQL),
    "q119_kmv_distinct": (q119_kmv_distinct, Q119_SQL),
    "q120_copurchase_triangles": (q120_copurchase_triangles, Q120_SQL),
    "q121_phrase_search": (q121_phrase_search, Q121_SQL),
    "q122_market_share": (q122_market_share, Q122_SQL),
    "q123_setsim_prefix_join": (q123_setsim_prefix_join, Q123_SQL),
    "q124_cdc_chunk_dedup": (q124_cdc_chunk_dedup, Q124_SQL),
    "q125_degree_distribution": (q125_degree_distribution, Q125_SQL),
    "q126_pq_code_histogram": (q126_pq_code_histogram, Q126_SQL),
    "q127_full_coverage_customers": (q127_full_coverage_customers, Q127_SQL),
    "q128_mad_outliers": (q128_mad_outliers, Q128_SQL),
    "q129_part_skyline": (q129_part_skyline, Q129_SQL),
    "q130_table_checksums": (q130_table_checksums, Q130_SQL),
    "q131_part_pagerank": (q131_part_pagerank, Q131_SQL),
    "q132_order_ship_reconciliation": (q132_order_ship_reconciliation, Q132_SQL),
    "q133_top_sizes_per_brand": (q133_top_sizes_per_brand, Q133_SQL),
    "q134_fk_audit": (q134_fk_audit, Q134_SQL),
    "q135_split_leakage": (q135_split_leakage, Q135_SQL),
    "q136_cms_partkeys": (q136_cms_partkeys, Q136_SQL),
    "q137_customer_bloom": (q137_customer_bloom, Q137_SQL),
    "q138_scd2_intervals": (q138_scd2_intervals, Q138_SQL),
    "q139_top_event_paths": (q139_top_event_paths, Q139_SQL),
}
