"""Training-data-pipeline queries: dedup, text analysis, similarity search,
multimodal metadata — each as (Spark builder, DuckDB oracle) like the core
set. The builders delegate to the operator/function modules (the real engine
surface); the oracles restate them in DuckDB's list/lambda SQL dialect.

Engine-portability notes (why these hash-match DuckDB):
* every hash is md5 (never engine-native hash functions);
* float folds are sequential left-folds in both engines (verified: both
  collapse [1e16, 1, -1e16] to 0.0);
* LSH signatures use integer-quantized dot products — exact, no sign flips;
* ratios divide exact integers and round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.functions.text import (
    LANG_MARKERS,
    avg_token_len,
    bow_fingerprint,
    distinct_token_count,
    lang_id,
    shingles,
    shingles_seq,
    simhash_table,
    stopword_ratio,
    token_count,
    tokens,
    winnow_fingerprints,
)
from hadoop_jobanalyzer_spark.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_est_vs_exact,
    near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from hadoop_jobanalyzer_spark.operators.multimodal import attach_payload, payload_meta
from hadoop_jobanalyzer_spark.operators.similarity import (
    embedding_near_dup_pairs,
    knn_brute_force,
    knn_ivf_assigned,
    knn_ivf_cell,
    knn_lsh_multiprobe,
    lsh_buckets,
)
from hadoop_jobanalyzer_spark.functions.vectors import hyperplanes
from hadoop_jobanalyzer_spark.plans.tables import load_tables, session_cached
from hadoop_jobanalyzer_spark.util import capture_plan, materialize, spread

_WORDS = "string_split(text, ' ')"


def _shingles_cte(doc_where: str | None = None) -> str:
    """words/sh CTE pair: 3-gram word shingles per document.  ``doc_where``
    restricts the document population BEFORE shingling so downstream
    frequency-sensitive stages (the max_bucket=1000 band-bucket cap) see
    the same corpus the Spark operator was handed (q215 lesson)."""
    gate = f" WHERE {doc_where}" if doc_where else ""
    return f"""
words AS (SELECT doc_id, {_WORDS} AS w FROM documents{gate}),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i))
"""


_SHINGLES_CTE = _shingles_cte()


# --- dedup -------------------------------------------------------------------


def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return exact_duplicates(t["documents"], "doc_id", "text")


Q20_SQL = """
SELECT doc_id, md5(text) AS text_hash,
       doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
FROM documents ORDER BY doc_id
"""


def q21_dedup_bow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    key = bow_fingerprint(tokens("text"))
    return exact_duplicates(t["documents"], "doc_id", "text", key=key)


Q21_SQL = f"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({_WORDS})), ' ')) AS text_hash
  FROM documents
)
SELECT doc_id, text_hash,
       doc_id = MIN(doc_id) OVER (PARTITION BY text_hash) AS is_keeper
FROM fp ORDER BY doc_id
"""


def q22_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(t["documents"], "doc_id", "text", ngram=3, threshold=0.2)


Q22_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
-- stop-shingle cap: mirror the operator's default max_bucket=1000
keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s IN (SELECT s FROM keep)
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
       ROUND(n_common / (sa.n + sb.n - n_common), 3) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(n_common / (sa.n + sb.n - n_common), 3) >= 0.2
ORDER BY id_a, id_b
"""

_N_HASHES = 8
_BANDS = 4  # 4 bands x 2 rows over 8 minhashes


def q23_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return lsh_candidate_pairs(
        t["documents"], "doc_id", "text", n_hashes=_N_HASHES, bands=_BANDS, ngram=3
    )


def _q23_sql() -> str:
    from hadoop_jobanalyzer_spark.operators.dedup import MINHASH_P, _minhash_params

    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(_minhash_params(_N_HASHES))
    )
    rows = _N_HASHES // _BANDS
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {concat} AS bh FROM m".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(_BANDS)
    )
    return f"""
WITH {_SHINGLES_CTE},
hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % {MINHASH_P} AS h FROM sh),
m AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
banded AS ({bands}),
-- mirror the operator's default max_bucket=1000 giant-bucket guard
bkeep AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING COUNT(*) <= 1000)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
FROM banded a
JOIN bkeep k ON a.band = k.band AND a.bh = k.bh
JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY id_a, id_b
"""


def corpus_dedup(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(verified near-dup pairs, connected-component labels) for the
    standard corpus dedup config (8 hashes x 4 bands, 3-gram shingles,
    Jaccard >= 0.2), built once per (session, sf_dir).

    Five registered queries consume this exact subtree (q34 pairs; q40
    clusters; q68 summary; q71 funnel; q204 savings) — at warehouse scale
    the dedup-cluster table is materialized once per corpus snapshot and
    every downstream pipeline joins it, not re-runs LSH.  The pairs are
    ``.persist()``-ed (deliberate bounded session cache, like the
    co-purchase edge table; ``tables.release_session_caches`` evicts it);
    the CC labels are already materialized by the iteration's materialize
    steps.
    """
    return session_cached(
        spark, "corpus_dedup", sf_dir, lambda: _build_corpus_dedup(spark, sf_dir)
    )


def _build_corpus_dedup(
    spark: SparkSession, sf_dir: str
) -> tuple[tuple[DataFrame, DataFrame], list[DataFrame]]:
    from hadoop_jobanalyzer_spark.operators.graph import connected_components

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = near_dup_pairs(
        docs, "doc_id", "text",
        n_hashes=_N_HASHES, bands=_BANDS, ngram=3, threshold=0.2,
    )
    capture_plan(pairs)  # persist hides the build plan from consumers
    pairs = pairs.persist()
    cc = connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b",
        nodes=docs.select(F.col("doc_id").alias("id")), id_col="id",
    )
    # CC now loops over edge endpoints only and appends the isolated
    # docs via an anti-join; materialize the assembled labeling so
    # the five consumers read blocks (as they did when the loop's
    # last checkpoint WAS the full labeling) instead of re-running
    # the corpus-side anti-join each.
    cc = cc.transform(materialize)
    return (pairs, cc), [pairs]


def write_dedup_clusters_bucketed(
    spark: SparkSession,
    sf_dir: str,
    name: str = "dedup_clusters",
    n_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Materialize the corpus's dedup-cluster labels as a BUCKETED catalog
    table — the durable form of the ``corpus_dedup`` session cache, and
    the second half of the co-bucketed corpus layout (the first is
    ``write_documents_bucketed``).

    At warehouse scale the cluster table is written once per corpus
    snapshot (the LSH + verify + connected-components build runs exactly
    once) and every downstream pipeline — keeper selection, token-savings
    accounting, training-mix manifests — JOINS it to the documents table
    by ``doc_id``. Bucketing both tables by ``doc_id`` with the same
    bucket count moves that join's shuffle to write time: the label join
    plans with no Exchange on either side (tests/test_bucketed.py).

    Output schema: (doc_id, component) — component is the min doc_id
    reachable through verified near-dup pairs, exactly the session
    cache's labels.
    """
    from hadoop_jobanalyzer_spark.sources.bucketed import write_bucketed

    _, cc = corpus_dedup(spark, sf_dir)
    write_bucketed(
        cc.select(F.col("id").alias("doc_id"), "component"),
        name,
        ["doc_id"],
        n_buckets,
        sort_cols=["doc_id"],
        path=path,
    )


def write_documents_bucketed(
    spark: SparkSession,
    sf_dir: str,
    name: str = "documents_bucketed",
    n_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Write the documents table bucketed by ``doc_id`` — the storage
    layout that makes every doc-grain enrichment join (dedup labels,
    quality flags, fingerprints) Exchange-free when the enrichment table
    is bucketed with the same key and count. Use the same ``n_buckets``
    as ``write_dedup_clusters_bucketed``."""
    from hadoop_jobanalyzer_spark.sources.bucketed import write_bucketed

    write_bucketed(
        load_tables(spark, sf_dir)["documents"],
        name,
        ["doc_id"],
        n_buckets,
        sort_cols=["doc_id"],
        path=path,
    )


def q34_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale dedup composition: LSH candidates -> exact
    Jaccard verify (only candidate pairs ever expand shingles). Served
    from the session's materialized dedup subtree (corpus_dedup)."""
    pairs, _ = corpus_dedup(spark, sf_dir)
    return pairs


def near_dup_ctes(
    threshold: float = 0.2, doc_where: str | None = None, max_bucket: int = 1000
) -> str:
    """The WITH-body (CTE chain) computing LSH-verified near-dup pairs —
    shared by the q34 oracle, the q40 clustering oracle (which adds a
    recursive connected-components CTE on top), and the q66 estimator
    comparison (threshold 0 = keep every candidate).

    ``doc_where`` restricts the document population BEFORE shingling, so
    the max_bucket=1000 band-bucket cap is evaluated on the same corpus
    the Spark builder hands to near_dup_pairs — a bucket that crosses the
    cap in the full corpus but not in a gated subset (or vice versa)
    would otherwise yield different candidate sets (q215 lesson)."""
    from hadoop_jobanalyzer_spark.operators.dedup import MINHASH_P, _minhash_params

    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(_minhash_params(_N_HASHES))
    )
    rows = _N_HASHES // _BANDS
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {concat} AS bh FROM m".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(_BANDS)
    )
    return f"""{_shingles_cte(doc_where)},
hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % {MINHASH_P} AS h FROM sh),
m AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
banded AS ({bands}),
-- mirror the operator's max_bucket giant-bucket guard
bkeep AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING COUNT(*) <= {max_bucket}),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
  FROM banded a
  JOIN bkeep k ON a.band = k.band AND a.bh = k.bh
  JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, c.n_shared_bands, COUNT(*) AS n_common
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY 1, 2, 3
),
verified AS (
  SELECT id_a, id_b, n_shared_bands, n_common, sa.n AS n_a, sb.n AS n_b,
         ROUND(n_common / (sa.n + sb.n - n_common), 3) AS jaccard
  FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE ROUND(n_common / (sa.n + sb.n - n_common), 3) >= {threshold}
)"""


def _q34_sql() -> str:
    return f"""
WITH {near_dup_ctes()}
SELECT * FROM verified ORDER BY id_a, id_b
"""


# --- text analysis -----------------------------------------------------------

_STOPWORDS = ["the", "a"]


def q24_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = tokens("text")
    return (
        spread(t["documents"])
        .select(
            "doc_id",
            F.length("text").alias("n_chars"),
            token_count(w).alias("n_tokens"),
            distinct_token_count(w).alias("n_distinct"),
            F.round(avg_token_len(w), 3).alias("avg_token_len"),
            F.round(stopword_ratio(w, _STOPWORDS), 3).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


Q24_SQL = f"""
WITH words AS (SELECT doc_id, text, {_WORDS} AS w FROM documents)
SELECT doc_id,
       LENGTH(text) AS n_chars,
       LEN(w) AS n_tokens,
       LEN(list_distinct(w)) AS n_distinct,
       ROUND(CAST(list_sum(list_transform(w, x -> LENGTH(x))) AS DOUBLE) / LEN(w), 3) AS avg_token_len,
       ROUND(CAST(LEN(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE) / LEN(w), 3) AS stopword_ratio
FROM words ORDER BY doc_id
"""


def q25_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = tokens("text")
    return (
        spread(t["documents"])
        .select("lang", lang_id(w).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


def _q25_sql() -> str:
    langs = list(LANG_MARKERS)
    scores = ", ".join(
        "LEN(list_intersect(w, {lst})) AS s_{lang}".format(
            lst="[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]", lang=lang
        )
        for lang in langs
    )
    cases = " ".join(
        "WHEN "
        + " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        + f" THEN '{lang}'"
        for lang in langs[:-1]
    )
    return f"""
WITH words AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
scored AS (SELECT doc_id, lang, {scores} FROM words)
SELECT lang, CASE {cases} ELSE '{langs[-1]}' END AS predicted, COUNT(*) AS n
FROM scored GROUP BY 1, 2 ORDER BY lang, predicted
"""


def q26_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return simhash_table(t["documents"], "doc_id", "text").orderBy("doc_id")


def _simhash_ctes() -> str:
    """CTE chain ending in ``sim(doc_id, simhash)`` — the SQL restatement of
    :func:`~hadoop_jobanalyzer_spark.functions.text.simhash_table`."""
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, v -> CASE WHEN ((v >> {k}) & 1) = 1 "
        f"THEN 1 ELSE -1 END)) >= 0 THEN CAST({2**k} AS BIGINT) ELSE 0 END)"
        for k in range(32)
    )
    return f"""words AS (SELECT doc_id, list_distinct({_WORDS}) AS w FROM documents),
th AS (SELECT doc_id,
       list_transform(w, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h
       FROM words),
sim AS (SELECT doc_id, {terms} AS simhash FROM th)"""


def _q26_sql() -> str:
    return f"""
WITH {_simhash_ctes()}
SELECT doc_id, simhash FROM sim ORDER BY doc_id
"""


# --- similarity search -------------------------------------------------------

_COS_SQL = """
ROUND(
  list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv), x -> x[1] * x[2]))
  / sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x))
         * list_sum(list_transform(q.qv, x -> x * x)))
, 4)"""


def q27_knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return knn_brute_force(t["embeddings"], "vec_id", "embedding", query_id=0, k=10)


Q27_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, {_COS_SQL} AS cos_sim
FROM embeddings e, q
WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""

_PLANES = hyperplanes(8, 64, seed=7)


def q28_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        lsh_buckets(t["embeddings"], "vec_id", "embedding", n_planes=8, dim=64)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("bucket")
    )


def _q28_sql() -> str:
    terms = []
    for i, plane in enumerate(_PLANES):
        arr = "[" + ", ".join(str(v) for v in plane) + "]::BIGINT[]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(embedding::DOUBLE[], {arr}), "
            f"x -> CAST(ROUND(x[1] * 1000) AS BIGINT) * x[2])) >= 0 "
            f"THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
SELECT ({bucket}) AS bucket, COUNT(*) AS n_vecs
FROM embeddings GROUP BY 1 ORDER BY bucket
"""


def q29_knn_ivf_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return knn_ivf_cell(
        t["embeddings"], "vec_id", "embedding", cell_col="label", query_id=0, k=5
    )


Q29_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv, label AS ql FROM embeddings WHERE vec_id = 0)
SELECT vec_id, {_COS_SQL} AS cos_sim
FROM embeddings e, q
WHERE e.label = q.ql AND vec_id != 0
ORDER BY cos_sim DESC, vec_id
LIMIT 5
"""


# --- document fingerprinting (winnowing / rolling-hash family) --------------


def q31_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return winnow_fingerprints(t["documents"], "doc_id", "text", ngram=3, window=4).orderBy(
        "doc_id", "fp"
    )


_WINNOW_W = 4

Q31_SQL = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
hashes AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(w) - 2),
                        i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8))::BIGINT) AS h
  FROM words WHERE len(w) >= 3
),
fps AS (
  SELECT doc_id,
         CASE WHEN len(h) >= {_WINNOW_W}
              THEN list_distinct(list_transform(generate_series(1, len(h) - {_WINNOW_W} + 1),
                                                i -> list_min(list_slice(h, i, i + {_WINNOW_W} - 1))))
              ELSE [list_min(h)] END AS fp
  FROM hashes WHERE len(h) > 0
)
SELECT doc_id, UNNEST(fp) AS fp FROM fps ORDER BY doc_id, fp
"""


# --- embedding-cosine near-dup (IVF-cell bounded) ----------------------------


def q32_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return embedding_near_dup_pairs(
        t["embeddings"], "vec_id", "embedding", threshold=0.4, cell_col="label"
    )


Q32_SQL = """
WITH b AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
-- mirror the operator's default max_bucket=1000 giant-cell guard
keep AS (SELECT label FROM b GROUP BY label HAVING COUNT(*) <= 1000),
p AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         ROUND(list_sum(list_transform(list_zip(a.v, c.v), x -> x[1] * x[2]))
               / sqrt(list_sum(list_transform(a.v, x -> x * x))
                      * list_sum(list_transform(c.v, x -> x * x))), 4) AS cos_sim
  FROM b a JOIN keep k ON a.label = k.label
  JOIN b c ON a.label = c.label AND a.vec_id < c.vec_id
)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.4 ORDER BY id_a, id_b
"""


# --- BPE-ish regex token counting -------------------------------------------

_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def q33_regex_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer-style counting: alpha runs, digit runs, and single
    non-alphanumeric marks — the BPE-ish regex segmentation of the task
    brief, counted per doc entirely JVM-side."""
    t = load_tables(spark, sf_dir)
    all_tokens = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    alpha = F.regexp_extract_all("text", F.lit("[A-Za-z]+"), 0)
    digit = F.regexp_extract_all("text", F.lit("[0-9]+"), 0)
    return (
        spread(t["documents"])
        .select(
            "doc_id",
            F.size(all_tokens).alias("n_bpe_tokens"),
            F.size(alpha).alias("n_alpha_runs"),
            F.size(digit).alias("n_digit_runs"),
        )
        .orderBy("doc_id")
    )


Q33_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_runs,
       len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs
FROM documents ORDER BY doc_id
"""


# --- multimodal --------------------------------------------------------------


def q60_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: the query's bucket plus all Hamming-1 buckets
    (operators/similarity.knn_lsh_multiprobe)."""
    t = load_tables(spark, sf_dir)
    return knn_lsh_multiprobe(
        t["embeddings"], "vec_id", "embedding", query_id=0, k=10, n_planes=8, dim=64
    )


def _q60_sql() -> str:
    terms = []
    for i, plane in enumerate(_PLANES):
        arr = "[" + ", ".join(str(v) for v in plane) + "]::BIGINT[]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(embedding::DOUBLE[], {arr}), "
            f"x -> CAST(ROUND(x[1] * 1000) AS BIGINT) * x[2])) >= 0 "
            f"THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    probe_dists = ", ".join(str(m) for m in [0] + [2**i for i in range(8)])
    return f"""
WITH b AS (SELECT vec_id, ({bucket}) AS bucket FROM embeddings),
qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
cand AS (SELECT vec_id FROM b, qb WHERE xor(bucket, qbucket) IN ({probe_dists})),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_COS_SQL} AS cos_sim
FROM embeddings e JOIN cand USING (vec_id), q
WHERE e.vec_id != 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


def q61_knn_ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a *computed* nearest-centroid assignment (no pre-labeled
    cell column — operators/similarity.assign_cells)."""
    t = load_tables(spark, sf_dir)
    return knn_ivf_assigned(
        t["embeddings"], "vec_id", "embedding", query_id=0, k=5, n_cells=16
    )


Q61_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
cents AS (SELECT vec_id AS cid, vv AS cv FROM v ORDER BY vec_id LIMIT 16),
scored AS (
  SELECT v.vec_id, c.cid,
         ROUND(list_sum(list_transform(list_zip(v.vv, c.cv), x -> x[1] * x[2]))
               / sqrt(list_sum(list_transform(v.vv, x -> x * x))
                      * list_sum(list_transform(c.cv, x -> x * x))), 6) AS cos
  FROM v CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
    FROM scored) WHERE rn = 1
),
qcell AS (SELECT cell AS qc FROM cells WHERE vec_id = 0),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_COS_SQL} AS cos_sim
FROM embeddings e JOIN cells USING (vec_id), qcell, q
WHERE cells.cell = qcell.qc AND e.vec_id != 0
ORDER BY cos_sim DESC, vec_id
LIMIT 5
"""


def q30_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata via the Arrow/mapInPandas plumbing (the
    corpus is ASCII, so the byte-level oracle can restate it in SQL).

    The sort runs *before* the pandas stage: range-partitioning samples its
    child, so sorting after mapInPandas would execute the Python stage
    twice; mapInPandas preserves per-partition row order, so the output
    stays globally ordered."""
    t = load_tables(spark, sf_dir)
    return payload_meta(attach_payload(t["documents"].orderBy("doc_id"), "doc_id", "text"))


Q30_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS payload_len,
       lower(hex(encode(substr(text, 1, 4)))) AS header_hex
FROM documents ORDER BY doc_id
"""


def q69_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF balance report: vectors and mean norm per computed cell. Skewed
    cell populations are what turn 'search one cell' into 'search half the
    corpus' — this is the diagnostic that sizes n_cells."""
    from hadoop_jobanalyzer_spark.functions.vectors import _fold_sum, to_double
    from hadoop_jobanalyzer_spark.operators.similarity import assign_cells

    t = load_tables(spark, sf_dir)
    cells = assign_cells(t["embeddings"], "vec_id", "embedding", n_cells=16)
    v = to_double(F.col("embedding"))
    norms = t["embeddings"].select(
        "vec_id", F.sqrt(_fold_sum(F.transform(v, lambda x: x * x))).alias("_norm")
    )
    return (
        cells.join(norms, "vec_id")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("_norm"), 4).alias("avg_norm"),
        )
        .orderBy("cell")
    )


Q69_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
cents AS (SELECT vec_id AS cid, vv AS cv FROM v ORDER BY vec_id LIMIT 16),
scored AS (
  SELECT v.vec_id, c.cid,
         ROUND(list_sum(list_transform(list_zip(v.vv, c.cv), x -> x[1] * x[2]))
               / sqrt(list_sum(list_transform(v.vv, x -> x * x))
                      * list_sum(list_transform(c.cv, x -> x * x))), 6) AS cos
  FROM v CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
    FROM scored) WHERE rn = 1
),
norms AS (SELECT vec_id, sqrt(list_sum(list_transform(vv, x -> x * x))) AS n FROM v)
SELECT cell, COUNT(*) AS n_vecs, ROUND(AVG(n), 4) AS avg_norm
FROM cells JOIN norms USING (vec_id)
GROUP BY cell ORDER BY cell
"""


def q74_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup demonstrated in the registry: docs with
    doc_id % 5 == 0 play the newly-arrived batch, the rest the existing
    corpus whose signatures are already persisted. The operator computes
    signatures for the new batch ONLY and bucket-joins against the store
    (operators/dedup.lsh_candidate_pairs_incremental); the oracle is the
    full-batch candidate set restricted to pairs involving a new doc —
    the exact contract the incremental path must honor."""
    from hadoop_jobanalyzer_spark.operators.dedup import (
        lsh_candidate_pairs_incremental,
        minhash_signatures,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    old = docs.filter("doc_id % 5 != 0")
    new = docs.filter("doc_id % 5 = 0")
    store = minhash_signatures(old, "doc_id", "text", _N_HASHES).na.drop()
    pairs, _ = lsh_candidate_pairs_incremental(
        new, "doc_id", "text", stored_sigs=store, n_hashes=_N_HASHES, bands=_BANDS
    )
    return pairs


def _q74_sql() -> str:
    from hadoop_jobanalyzer_spark.operators.dedup import MINHASH_P, _minhash_params

    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(_minhash_params(_N_HASHES))
    )
    rows = _N_HASHES // _BANDS
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {concat} AS bh FROM m".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(_BANDS)
    )
    return f"""
WITH {_SHINGLES_CTE},
hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % {MINHASH_P} AS h FROM sh),
m AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
banded AS ({bands}),
bkeep AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING COUNT(*) <= 1000)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
FROM banded a
JOIN bkeep k ON a.band = k.band AND a.bh = k.bh
JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
GROUP BY 1, 2
ORDER BY id_a, id_b
"""


def q75_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4-band blocking over the 32-bit fingerprint,
    Hamming <= 3 verify (operators/dedup.simhash_near_dup_pairs). With 4
    bands the blocking is pigeonhole-exact for Hamming <= 3 — no recall
    loss vs an all-pairs scan, at bucket-join cost."""
    docs = load_tables(spark, sf_dir)["documents"]
    return simhash_near_dup_pairs(docs, "doc_id", "text")


def _q75_sql() -> str:
    return f"""
WITH {_simhash_ctes()},
bands AS (
  SELECT doc_id, t.band, (simhash >> (t.band * 8)) & 255 AS bh
  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS band) t
),
bkeep AS (SELECT band, bh FROM bands GROUP BY band, bh
          HAVING COUNT(*) BETWEEN 2 AND 1000),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
  FROM bands a
  JOIN bkeep k ON a.band = k.band AND a.bh = k.bh
  JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared_bands,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand
JOIN sim sa ON sa.doc_id = id_a
JOIN sim sb ON sb.doc_id = id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
ORDER BY id_a, id_b
"""


# --- corpus quality / contamination / estimator diagnostics ------------------


def q62_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: type-token ratio, top
    token mass, duplicate-bigram fraction. One explode + two-level partial
    aggregation; the in-row bigram stat rides the shuffle as one double."""
    t = load_tables(spark, sf_dir)
    w = tokens("text")
    bi = shingles_seq(w, 2)
    dupbi = F.lit(1.0) - F.size(F.array_distinct(bi)) / F.size(bi)
    # dupbi is materialized in its own projection BEFORE the explode: put in
    # the same select, the (interpreted-lambda) bigram build would be
    # re-evaluated per exploded row — measured 20.6s -> 0.9s at sf0.1.
    base = (
        spread(t["documents"])
        .select("doc_id", F.col("text"), dupbi.alias("_dupbi"))
        .select("doc_id", "_dupbi", F.explode(tokens("text")).alias("tok"))
    )
    cnt = base.groupBy("doc_id", "tok").agg(
        F.count("*").alias("c"), F.min("_dupbi").alias("_dupbi")
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.max("c").alias("_top"),
            F.min("_dupbi").alias("_dupbi"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("ttr"),
            F.round(F.col("_top") / F.col("n_tokens"), 4).alias("top_token_frac"),
            F.round("_dupbi", 4).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )


Q62_SQL = f"""
WITH words AS (SELECT doc_id, {_WORDS} AS w FROM documents),
bi AS (
  SELECT doc_id,
         ROUND(1 - len(list_distinct(big))::DOUBLE / len(big), 4) AS dup_bigram_frac
  FROM (SELECT doc_id,
               list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]) AS big
        FROM words)
),
cnt AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(w) AS t FROM words) GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
         MAX(c) AS top_c
  FROM cnt GROUP BY doc_id
)
SELECT a.doc_id, n_tokens, n_types,
       ROUND(n_types::DOUBLE / n_tokens, 4) AS ttr,
       ROUND(top_c::DOUBLE / n_tokens, 4) AS top_token_frac,
       bi.dup_bigram_frac
FROM agg a JOIN bi USING (doc_id) ORDER BY doc_id
"""


_BENCH_MAX_ID = 20  # doc_id < 20 plays the held-out benchmark set
_CONTAM_N = 5  # 5-gram overlap — long enough that chance collisions vanish


def q63_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination probe: for each corpus doc, how many of
    its distinct 5-gram shingles appear anywhere in the benchmark set
    (doc_id < 20). The benchmark shingle set is small by construction and
    explicitly broadcast — the corpus is scanned once, shuffled only for
    the per-doc count."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    sh5 = shingles(tokens("text"), _CONTAM_N)
    # Explodes are DIRECT (generator-only selects): carrying another
    # expression (size) next to a generator re-evaluates the n-gram build
    # per exploded row — measured 23s vs 3s at sf0.1. Sizes ride a
    # separate one-row-per-doc projection, as in near_dup_pairs.
    bench = (
        docs.filter(F.col("doc_id") < _BENCH_MAX_ID)
        .select(F.explode(sh5).alias("s"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") >= _BENCH_MAX_ID)
    corpus_sh = corpus.select("doc_id", F.explode(sh5).alias("s"))
    sizes = corpus.select("doc_id", F.size(sh5).alias("n_sh"))
    return (
        corpus_sh.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_sh"), 4).alias("overlap_frac"),
        )
        .orderBy("doc_id")
    )


Q63_SQL = f"""
WITH words AS (SELECT doc_id, {_WORDS} AS w FROM documents),
sh5 AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
  FROM words, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
),
bench AS (SELECT DISTINCT s FROM sh5 WHERE doc_id < {_BENCH_MAX_ID}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh5 GROUP BY doc_id)
SELECT s.doc_id, COUNT(*) AS n_overlap,
       ROUND(COUNT(*)::DOUBLE / ANY_VALUE(n_sh), 4) AS overlap_frac
FROM sh5 s JOIN bench USING (s) JOIN sizes USING (doc_id)
WHERE s.doc_id >= {_BENCH_MAX_ID}
GROUP BY s.doc_id ORDER BY s.doc_id
"""


def q64_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram Shannon entropy (nats): ln(n) - sum(c*ln(c))/n.
    Same explode + partial-agg shape as q62; float sums are rounded to 4
    (re-association noise is ~1e-15)."""
    t = load_tables(spark, sf_dir)
    cnt = (
        spread(t["documents"])
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.log("c")).alias("_clnc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.log("n_tokens") - F.col("_clnc") / F.col("n_tokens"), 4).alias(
                "entropy"
            ),
        )
        .orderBy("doc_id")
    )


Q64_SQL = f"""
WITH cnt AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({_WORDS}) AS t FROM documents) GROUP BY 1, 2
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS entropy
FROM cnt GROUP BY doc_id ORDER BY doc_id
"""


def q65_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape at a glance: docs per log2 token-count bucket."""
    t = load_tables(spark, sf_dir)
    n = token_count(tokens("text"))
    return (
        t["documents"]
        .select(F.floor(F.log2(n)).alias("log2_tokens"), n.alias("n"))
        .groupBy("log2_tokens")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
        .orderBy("log2_tokens")
    )


Q65_SQL = f"""
SELECT CAST(FLOOR(LOG2(len({_WORDS}))) AS BIGINT) AS log2_tokens,
       COUNT(*) AS n_docs, MIN(len({_WORDS})) AS min_tokens,
       MAX(len({_WORDS})) AS max_tokens
FROM documents GROUP BY 1 ORDER BY log2_tokens
"""


def q66_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator quality vs exact Jaccard on every LSH candidate
    pair (operators/dedup.minhash_est_vs_exact)."""
    t = load_tables(spark, sf_dir)
    return minhash_est_vs_exact(
        t["documents"], "doc_id", "text", n_hashes=_N_HASHES, bands=_BANDS, ngram=3
    )


def _q66_sql() -> str:
    est = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    return f"""
WITH {near_dup_ctes(threshold=0.0)}
SELECT v.id_a, v.id_b,
       ROUND(({est}) / {_N_HASHES}.0, 3) AS est_jaccard,
       v.jaccard,
       ROUND(ABS(({est}) / {_N_HASHES}.0 - v.jaccard), 3) AS abs_err
FROM verified v
JOIN m a ON v.id_a = a.doc_id
JOIN m b ON v.id_b = b.doc_id
ORDER BY v.id_a, v.id_b
"""


PIPELINE_QUERIES: dict[str, tuple] = {
    "q20_dedup_exact": (q20_dedup_exact, Q20_SQL),
    "q21_dedup_bow_fingerprint": (q21_dedup_bow_fingerprint, Q21_SQL),
    "q22_ngram_jaccard_pairs": (q22_ngram_jaccard_pairs, Q22_SQL),
    "q23_minhash_lsh_pairs": (q23_minhash_lsh_pairs, _q23_sql()),
    "q24_text_quality": (q24_text_quality, Q24_SQL),
    "q25_lang_id": (q25_lang_id, _q25_sql()),
    "q26_simhash": (q26_simhash, _q26_sql()),
    "q27_knn_brute_force": (q27_knn_brute_force, Q27_SQL),
    "q28_lsh_bucket_histogram": (q28_lsh_bucket_histogram, _q28_sql()),
    "q29_knn_ivf_cell": (q29_knn_ivf_cell, Q29_SQL),
    "q60_knn_multiprobe": (q60_knn_multiprobe, _q60_sql()),
    "q61_knn_ivf_assigned": (q61_knn_ivf_assigned, Q61_SQL),
    "q62_repetition_signals": (q62_repetition_signals, Q62_SQL),
    "q63_contamination": (q63_contamination, Q63_SQL),
    "q64_token_entropy": (q64_token_entropy, Q64_SQL),
    "q65_doclen_histogram": (q65_doclen_histogram, Q65_SQL),
    "q66_minhash_estimate": (q66_minhash_estimate, _q66_sql()),
    "q69_ivf_cell_stats": (q69_ivf_cell_stats, Q69_SQL),
    "q74_incremental_dedup": (q74_incremental_dedup, _q74_sql()),
    "q75_simhash_near_dups": (q75_simhash_near_dups, _q75_sql()),
    "q30_payload_meta": (q30_payload_meta, Q30_SQL),
    "q31_winnow_fingerprints": (q31_winnow_fingerprints, Q31_SQL),
    "q32_embedding_near_dups": (q32_embedding_near_dups, Q32_SQL),
    "q33_regex_token_counts": (q33_regex_token_counts, Q33_SQL),
    "q34_dedup_pipeline": (q34_dedup_pipeline, _q34_sql()),
}
