"""Deduplication queries over ``documents`` (exact, MinHash+LSH,
SimHash, n-gram Jaccard) — north-star extensions, built on
``pygdf_spark.operators.dedup``. The oracle SQL re-derives the exact
same hash arithmetic (md5_number_lower ≡ functions.hashing.md5_u64).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pygdf_spark.functions.hashing import MERSENNE_P, md5_mod, minhash_perm_sql
from pygdf_spark.operators import dedup as D
from pygdf_spark.operators.text import ngrams
from pygdf_spark.queries._util import T, shuffle_width, spread

_SHINGLE_SQL = r"""
shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, greatest(len(w)-2, 0)),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
  )
)
"""


def dedup_exact_hash(spark, sf_dir):
    """exact dedup summary: fingerprint groups + corpus totals."""
    d = T(spark, sf_dir, "documents")
    groups = D.exact_dedup_stats(d)
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_copies").alias("n_docs"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.min("keep_doc").alias("first_doc"),
    )


DEDUP_EXACT_SQL = r"""
SELECT COUNT(*) AS n_groups, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       MIN(keep_doc) AS first_doc
FROM (
  SELECT md5(LOWER(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
         COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc
  FROM documents GROUP BY fp
)
"""


def dedup_prefix_groups(spark, sf_dir):
    """coarse dedup key: first-3-token prefix groups with >1 member."""
    d = T(spark, sf_dir, "documents")
    from pygdf_spark.operators.text import tokens

    w = tokens("text")
    key = F.concat_ws(" ", F.element_at(w, 1), F.element_at(w, 2), F.element_at(w, 3))
    return (
        d.select(key.alias("prefix"), "doc_id")
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n") > 1)
        .orderBy(F.col("n").desc(), F.col("prefix").asc())
    )


DEDUP_PREFIX_SQL = r"""
SELECT w[1] || ' ' || w[2] || ' ' || w[3] AS prefix, COUNT(*) AS n, MIN(doc_id) AS keep_doc
FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
GROUP BY prefix HAVING COUNT(*) > 1
ORDER BY n DESC, prefix ASC
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(6 perms) + band-1 LSH candidates + exact Jaccard verify."""
    d = spread(T(spark, sf_dir, "documents"))  # 1-task scan: guide §2.5
    out = D.minhash_lsh_dedup(d, num_perms=6, threshold=0.05)
    return out.orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()).limit(50)


def _minhash_sql() -> str:
    p = MERSENNE_P
    perm_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS perm, {minhash_perm_sql('x', i)} AS h FROM hashed"
        for i in range(6)
    )
    return rf"""
WITH {_SHINGLE_SQL},
hashed AS (
  SELECT doc_id, CAST(md5_number_lower(shingle) % {p} AS BIGINT) AS x FROM shingles
),
sigs AS (
  SELECT doc_id, perm, MIN(h) AS minhash FROM ({perm_rows}) GROUP BY doc_id, perm
),
cand AS (
  -- star pairing: bucket member ↔ bucket-min representative (matches
  -- operators/dedup.lsh_candidate_pairs — linear per bucket, not a clique)
  SELECT DISTINCT m.doc_a, s.doc_id AS doc_b
  FROM sigs s
  JOIN (SELECT perm, minhash, MIN(doc_id) AS doc_a FROM sigs GROUP BY perm, minhash) m
    ON s.perm = m.perm AND s.minhash = m.minhash AND s.doc_id > m.doc_a
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS inter
  FROM shingles s1 JOIN shingles s2 ON s1.shingle = s2.shingle
  JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 8) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= 0.05
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 50
"""


def dedup_simhash(spark, sf_dir):
    """16-bit SimHash per document (token multiplicity preserved)."""
    d = T(spark, sf_dir, "documents")
    return D.simhash16(d).orderBy("doc_id")


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (x // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    packed = " + ".join(f"(CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return rf"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok FROM documents
),
hx AS (SELECT doc_id, CAST(md5_number_lower(tok) % {1 << bits} AS BIGINT) AS x FROM toks),
votes AS (SELECT doc_id, {votes} FROM hx GROUP BY doc_id)
-- LEFT from documents: zero-token docs get the zero-vote fingerprint
-- (every tie-bit set), mirroring operators/dedup.simhash16
SELECT d.doc_id,
       CAST(CASE WHEN v.doc_id IS NULL THEN {(1 << bits) - 1}
                 ELSE {packed} END AS BIGINT) AS simhash
FROM documents d LEFT JOIN votes v ON v.doc_id = d.doc_id ORDER BY d.doc_id
"""


def dedup_ngram_jaccard(spark, sf_dir):
    """pairwise bigram-set Jaccard among a bounded slice (doc_id<150) —
    the exact quadratic baseline the LSH path approximates."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sh = D.shingles(d, n=2)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 8).alias("jaccard"),
        )
    )
    return jac.orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()).limit(30)


DEDUP_NGRAM_SQL = r"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, greatest(len(w)-1, 0)),
                                 i -> w[i] || ' ' || w[i+1])) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents WHERE doc_id < 150)
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 8) AS jaccard
FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 30
"""


def dedup_keep_list(spark, sf_dir):
    """one-pass dedup group assignment (operators/dedup.
    dedup_group_assignment): group-size histogram + kept-doc count."""
    d = T(spark, sf_dir, "documents")
    groups = D.dedup_group_assignment(d)
    sizes = groups.groupBy("rep").agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_members").alias("n_docs"),
        F.sum(F.when(F.col("n_members") > 1, F.col("n_members") - 1).otherwise(0)).alias("n_dropped"),
        F.max("n_members").alias("max_group"),
    )


DEDUP_KEEP_LIST_SQL = rf"""
WITH {_SHINGLE_SQL},
hashed AS (
  SELECT doc_id, CAST(md5_number_lower(shingle) % {MERSENNE_P} AS BIGINT) AS x FROM shingles
),
sigs AS (
  SELECT doc_id, perm, MIN(h) AS minhash FROM (
    {" UNION ALL ".join(f"SELECT doc_id, {i} AS perm, {minhash_perm_sql('x', i)} AS h FROM hashed" for i in range(6))}
  ) GROUP BY doc_id, perm
),
bmin AS (SELECT perm, minhash, MIN(doc_id) AS bucket_rep FROM sigs GROUP BY perm, minhash),
rep AS (
  -- LEFT from documents + COALESCE: docs too short to shingle
  -- self-represent (mirrors operators/dedup.dedup_group_assignment)
  SELECT d.doc_id, COALESCE(MIN(b.bucket_rep), d.doc_id) AS rep
  FROM documents d
  LEFT JOIN sigs s ON s.doc_id = d.doc_id
  LEFT JOIN bmin b ON s.perm = b.perm AND s.minhash = b.minhash
  GROUP BY d.doc_id
),
sizes AS (SELECT rep, COUNT(*) AS n_members FROM rep GROUP BY rep)
SELECT COUNT(*) AS n_groups, CAST(SUM(n_members) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_members > 1 THEN n_members - 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       MAX(n_members) AS max_group
FROM sizes
"""


def graph_connected_components(spark, sf_dir):
    """iterative connected components (operators/graph.py min-label
    propagation + path compression — the transitive-closure stage a
    corpus dedup pipeline runs downstream of near-dup pairs). The test
    graph chains each customer's orders (multi-hop paths, so label
    propagation genuinely iterates); the oracle walks the same graph
    with a recursive CTE — an independent fixpoint formulation."""
    from pyspark.sql import Window

    from pygdf_spark.operators.graph import connected_components

    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    chain = o.select(
        F.col("o_orderkey").alias("a"),
        F.lead("o_orderkey").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    # the propagation rounds execute eagerly (localCheckpoint); scope
    # the shuffle width to the bounded verification input the same way
    # run_stream does for streaming state stores
    with shuffle_width(spark, 8):
        cc = connected_components(chain)
    comps = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("n_orders"))
    return comps.orderBy("comp")


GRAPH_CC_SQL = """
WITH RECURSIVE
base AS (
  SELECT o_orderkey AS a,
         LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS b
  FROM orders WHERE o_custkey < 300
),
e AS (
  SELECT a, b FROM base WHERE b IS NOT NULL
  UNION ALL
  SELECT b, a FROM base WHERE b IS NOT NULL
),
verts AS (SELECT DISTINCT a AS id FROM e),
walk(id, label) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.b, w.label FROM walk w JOIN e ON e.a = w.id
),
cc AS (SELECT id, MIN(label) AS comp FROM walk GROUP BY id)
SELECT comp, COUNT(*) AS n_orders FROM cc GROUP BY comp ORDER BY comp
"""


def graph_bfs_hops(spark, sf_dir):
    """Multi-source BFS (operators/graph.py bfs_hops — the frontier
    Pregel shape): the test graph chains each customer's orders by
    rank and adds head→rank-6/11/16… skip edges, so minimum-hop
    distances genuinely compete between the chain path and the
    shortcut (dist ≤ 6 regardless of chain length). Sources are every
    chain head. The oracle walks the same graph with a recursive CTE
    (UNION-fixpoint over (id, hop) pairs, MIN per vertex) — an
    independent formulation of shortest-hops."""
    from pyspark.sql import Window

    from pygdf_spark.operators.graph import bfs_hops

    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    ranked = o.select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("id"),
        F.row_number().over(w).alias("r"),
    ).localCheckpoint()
    nxt = ranked.select(
        F.col("c"), F.col("id").alias("b"), (F.col("r") - 1).alias("r")
    )
    chain = ranked.join(nxt, ["c", "r"]).select(
        F.col("id").alias("a"), "b"
    )
    heads = ranked.filter("r = 1")
    skips = (
        heads.select("c", F.col("id").alias("a"))
        .join(
            ranked.filter("r > 1 AND (r - 1) % 5 = 0")
            .select("c", F.col("id").alias("b")),
            "c",
        )
        .select("a", "b")
    )
    with shuffle_width(spark, 8):
        dist = bfs_hops(chain.union(skips), heads.select("id"),
                        max_iter=16)
    return (
        dist.groupBy("hop")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("hop")
    )


GRAPH_BFS_SQL = """
WITH RECURSIVE
ranked AS (
  SELECT o_custkey AS c, o_orderkey AS id,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS r
  FROM orders WHERE o_custkey < 300
),
chain AS (
  SELECT x.id AS a, y.id AS b FROM ranked x
  JOIN ranked y ON x.c = y.c AND y.r = x.r + 1
),
skips AS (
  SELECT h.id AS a, t.id AS b FROM ranked h
  JOIN ranked t ON h.c = t.c AND h.r = 1
                AND t.r > 1 AND (t.r - 1) % 5 = 0
),
e0 AS (SELECT a, b FROM chain UNION ALL SELECT a, b FROM skips),
e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
walk(id, hop) AS (
  SELECT id, 0 AS hop FROM ranked WHERE r = 1
  UNION
  SELECT e.b, w.hop + 1 FROM walk w JOIN e ON e.a = w.id
  WHERE w.hop < 14
),
dist AS (SELECT id, MIN(hop) AS hop FROM walk GROUP BY id)
SELECT CAST(hop AS BIGINT) AS hop, COUNT(*) AS n_vertices
FROM dist GROUP BY hop ORDER BY hop
"""


def dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the eval-set n-gram collision check
    every pretraining pipeline runs before training: flag corpus
    documents sharing any word n-gram with a held-out benchmark set.

    Here n=3 (the word-soup fixture's collision scale); production uses
    8-13-gram spans — same plan, one constant. The benchmark slice is
    doc_id % 97 == 0 standing in for the external eval corpus.

    Scale posture: a real benchmark set is bounded (thousands of docs),
    so its distinct n-gram table broadcasts; the corpus side is one
    map-side explode + broadcast hash semi-join + two keyed aggs — the
    corpus is scanned exactly once and nothing corpus-sized shuffles."""
    d = T(spark, sf_dir, "documents")
    bench_grams = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(F.array_distinct(ngrams("text", 3))).alias("g"))
        .distinct()
    )
    corpus_grams = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "source", F.explode(F.array_distinct(ngrams("text", 3))).alias("g")
    )
    per_doc = (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.sum("n_hits").cast("long").alias("total_hits"),
        )
        .orderBy("source")
    )


DEDUP_DECONTAMINATE_SQL = r"""
WITH words AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents
),
grams AS (
  SELECT doc_id, source, g FROM (
    SELECT doc_id, source,
           UNNEST(list_distinct(list_transform(
             generate_series(1, greatest(len(w) - 2, 0)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
    FROM words
  )
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
per_doc AS (
  SELECT c.doc_id, c.source, COUNT(*) AS n_hits
  FROM grams c JOIN bench b USING (g)
  WHERE c.doc_id % 97 <> 0
  GROUP BY c.doc_id, c.source
)
SELECT source, COUNT(*) AS n_contaminated,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits
FROM per_doc GROUP BY source ORDER BY source
"""


def dedup_span_fingerprint(spark, sf_dir):
    """Sub-document (span-level) duplicate detection — the substring-
    dedup analog: fingerprint strided word spans (6-gram, stride 3) and
    surface spans repeated across distinct documents. Catches planted
    near-dup passages that whole-document exact dedup misses.

    Scale posture: spans are generated map-side (one strided HOF filter
    over the in-row n-gram array, no per-span shuffle until the keyed
    count); at 100 TB the span string would be replaced by its 64-bit
    hash (functions/hashing.hash_u64 fast path) — same plan shape."""
    d = T(spark, sf_dir, "documents")
    spans = d.select(
        "doc_id",
        F.explode(
            F.filter(ngrams("text", 6), lambda x, i: i % 3 == 0)
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occur"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occur").desc(), F.col("span").asc())
        .limit(20)
    )


DEDUP_SPAN_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
spans AS (
  SELECT doc_id, UNNEST(list_filter(list_transform(
           generate_series(1, greatest(len(w) - 5, 0)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]),
           (x, i) -> i % 3 = 1)) AS span
  FROM words
)
SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occur
FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occur DESC, span ASC LIMIT 20
"""


def dedup_decontaminate_bloom(spark, sf_dir):
    """Decontamination through a distributed Bloom prefilter
    (operators/bloom.py) — the 100 TB shape of `dedup_decontaminate`:
    the eval set's n-grams become a broadcast BITSET (128 KB here; ~125
    MB even at 100M eval grams) instead of a broadcast string table, and
    each corpus document is screened IN-ROW with an exists() probe over
    its n-gram array — bloom-negative docs never explode, never shuffle,
    and resolve map-side as clean. Only bloom-positive candidates (true
    collisions + the FP fraction) pay the exact explode + semi-join
    verify, so the result is EXACT — the filter only prunes work.

    Returns per-source counts of documents RETAINED (the anti side)."""
    from pygdf_spark.operators.bloom import bloom_build, bloom_might_contain

    m_bits, k = 1 << 20, 5  # fixture-sized; production sizes via bloom_params
    d = T(spark, sf_dir, "documents")
    grams3 = F.array_distinct(ngrams("text", 3))
    bench = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(grams3).alias("g"))
        .distinct()
    )
    # localCheckpoint: the 1-row bitset feeds three output branches —
    # without it the whole build subtree re-runs per branch. Checkpoint
    # (not persist) so the cached block is released when the DataFrame
    # is garbage-collected instead of leaking for the session lifetime.
    bits = (
        bloom_build(bench, "g", m_bits, k)
        .withColumnRenamed("bits", "__bits")
        .localCheckpoint()
    )
    corpus = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "source", grams3.alias("grams")
    )
    # coalesce: NULL text -> NULL grams -> exists() is NULL, which would
    # silently drop the row from BOTH the ~hit and hit branches; a null
    # doc has no grams so it is clean by definition
    cand = corpus.crossJoin(F.broadcast(bits)).withColumn(
        "__hit",
        F.coalesce(
            F.exists(
                "grams", lambda g: bloom_might_contain(g, F.col("__bits"), m_bits, k)
            ),
            F.lit(False),
        ),
    )
    clean_certain = cand.filter(~F.col("__hit")).select("doc_id", "source")
    maybe = cand.filter(F.col("__hit")).select("doc_id", "source", "grams")
    contaminated = (
        maybe.select("doc_id", F.explode("grams").alias("g"))
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    rescued = maybe.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "source"
    )
    return (
        clean_certain.unionByName(rescued)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_clean"))
        .orderBy("source")
    )


DEDUP_DECONTAMINATE_BLOOM_SQL = r"""
WITH words AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents
),
grams AS (
  SELECT doc_id, source, g FROM (
    SELECT doc_id, source,
           UNNEST(list_distinct(list_transform(
             generate_series(1, greatest(len(w) - 2, 0)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
    FROM words
  )
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
contaminated AS (
  SELECT DISTINCT c.doc_id FROM grams c JOIN bench b USING (g)
  WHERE c.doc_id % 97 <> 0
)
SELECT source, COUNT(*) AS n_clean
FROM documents d
WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
GROUP BY source ORDER BY source
"""


def dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup — the daily-batch shape: a NEW batch
    (doc_id % 10 == 0 standing in for today's crawl) is deduplicated
    (a) against the EXISTING corpus's fingerprint table and (b) within
    itself (keep the min doc per batch fingerprint group). Production
    keeps the corpus fp table as a bucketed/sorted table so (a) is a
    co-located semi-join; here both sides fingerprint map-side and meet
    in one keyed shuffle each. Output: per-source ingest audit."""
    from pygdf_spark.operators.text import doc_fingerprint

    d = T(spark, sf_dir, "documents")
    fp = doc_fingerprint("text")
    new = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "source", fp.alias("fp")
    )
    corpus_fp = d.filter(F.col("doc_id") % 10 != 0).select(fp.alias("fp")).distinct()
    flagged = new.join(
        corpus_fp.withColumn("__in_corpus", F.lit(True)), "fp", "left"
    )
    w_min = F.min("doc_id").over(Window.partitionBy("fp"))
    flagged = flagged.withColumn("__batch_first", F.col("doc_id") == w_min)
    ingest = F.col("__in_corpus").isNull() & F.col("__batch_first")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.col("__in_corpus").isNotNull().cast("long")).alias("n_dup_corpus"),
            F.sum((~F.col("__batch_first")).cast("long")).alias("n_dup_batch"),
            F.sum(ingest.cast("long")).alias("n_ingest"),
        )
        .orderBy("source")
    )


DEDUP_INCREMENTAL_SQL = r"""
WITH fps AS (
  SELECT doc_id, source,
         md5(LOWER(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
  FROM documents
),
new AS (SELECT * FROM fps WHERE doc_id % 10 = 0),
corpus AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 <> 0),
flagged AS (
  SELECT n.source,
         n.fp IN (SELECT fp FROM corpus) AS in_corpus,
         n.doc_id = MIN(n.doc_id) OVER (PARTITION BY n.fp) AS batch_first
  FROM new n
)
SELECT source, COUNT(*) AS n_new,
       CAST(SUM(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
       CAST(SUM(CASE WHEN NOT batch_first THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
       CAST(SUM(CASE WHEN NOT in_corpus AND batch_first THEN 1 ELSE 0 END) AS BIGINT) AS n_ingest
FROM flagged GROUP BY source ORDER BY source
"""


def graph_pagerank(spark, sf_dir):
    """Distributed PageRank (5 fixed rounds, exact integer µ-units) on
    the order↔part incidence graph — the link-analysis companion to
    connected components for corpus/link-graph curation (e.g. domain
    authority weighting before sampling). Symmetrized bipartite edges:
    order nodes = l_orderkey, part nodes = 2e9 + l_partkey."""
    from pygdf_spark.operators.graph import pagerank_micro

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    e0 = li.select(
        F.col("l_orderkey").alias("a"),
        (F.lit(2_000_000_000) + F.col("l_partkey")).alias("b"),
    ).distinct()
    edges = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    with shuffle_width(spark, 8):
        pr = pagerank_micro(edges, iters=5)
    return pr.orderBy(F.col("rank_micro").desc(), F.col("id").asc()).limit(20)


def _pagerank_sql(iters: int = 5) -> str:
    prev = "r0"
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""r{i} AS (
  SELECT v.id, CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
  FROM verts v LEFT JOIN (
    SELECT e.b AS id, SUM(p.r // d.deg) AS s
    FROM e JOIN {prev} p ON e.a = p.id JOIN deg d ON e.a = d.id
    GROUP BY e.b
  ) s ON v.id = s.id
)""")
        prev = f"r{i}"
    joined = ",\n".join(steps)
    return f"""
WITH e0 AS (
  SELECT DISTINCT l_orderkey AS a, 2000000000 + l_partkey AS b
  FROM lineitem WHERE l_orderkey < 5000
),
e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
verts AS (SELECT DISTINCT a AS id FROM (SELECT a FROM e UNION ALL SELECT b FROM e) t(a)),
deg AS (SELECT a AS id, COUNT(*) AS deg FROM e GROUP BY a),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM verts),
{joined}
SELECT id, r AS rank_micro FROM {prev}
ORDER BY rank_micro DESC, id ASC LIMIT 20
"""


def pipeline_neardup_prune(spark, sf_dir):
    """End-to-end near-duplicate PRUNING — the full production chain in
    one pipeline: MinHash signatures → LSH band candidates → exact
    Jaccard verify → connected components over the verified pairs →
    keep the min-doc_id representative per cluster → per-source
    retention report. Downstream of this, training reads only kept
    docs.

    Scale: the pair stage is the star-paired LSH (linear per bucket);
    CC runs O(log D) label-propagation rounds over pair-sized edges
    (pairs ≪ corpus); the final anti-join removes cluster non-reps with
    one keyed shuffle. Nothing corpus-quadratic anywhere."""
    from pygdf_spark.operators.graph import connected_components

    d = T(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(d, num_perms=6, threshold=0.05)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    with shuffle_width(spark, 8):
        cc = connected_components(edges)
    # comp label IS the min member id == the kept representative
    removed = cc.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id")
    )
    return (
        d.join(removed, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .join(
            d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total")),
            "source",
        )
        .select(
            "source", "n_total", "n_kept",
            (F.col("n_total") - F.col("n_kept")).alias("n_removed"),
        )
        .orderBy("source")
    )


def _neardup_prune_sql() -> str:
    # same signature/band/verify CTEs as the LSH oracle, then a
    # recursive-CTE fixpoint replaces the iterative label propagation
    p = MERSENNE_P
    perm_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS perm, {minhash_perm_sql('x', i)} AS h FROM hashed"
        for i in range(6)
    )
    return rf"""
WITH RECURSIVE {_SHINGLE_SQL.strip().lstrip()},
hashed AS (
  SELECT doc_id, CAST(md5_number_lower(shingle) % {p} AS BIGINT) AS x FROM shingles
),
sigs AS (
  SELECT doc_id, perm, MIN(h) AS minhash FROM ({perm_rows}) GROUP BY doc_id, perm
),
cand AS (
  SELECT DISTINCT m.doc_a, s.doc_id AS doc_b
  FROM sigs s
  JOIN (SELECT perm, minhash, MIN(doc_id) AS doc_a FROM sigs GROUP BY perm, minhash) m
    ON s.perm = m.perm AND s.minhash = m.minhash AND s.doc_id > m.doc_a
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS inter
  FROM shingles s1 JOIN shingles s2 ON s1.shingle = s2.shingle
  JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= 0.05
),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
verts AS (SELECT DISTINCT a AS id FROM e),
walk(id, label) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.b, w.label FROM walk w JOIN e ON e.a = w.id
),
cc AS (SELECT id, MIN(label) AS comp FROM walk GROUP BY id),
removed AS (SELECT id AS doc_id FROM cc WHERE id <> comp)
SELECT source, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM removed) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM removed) THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM documents GROUP BY source ORDER BY source
"""


def dedup_url_canonical(spark, sf_dir):
    """URL-canonicalization dedup — the first pass of every web-corpus
    pipeline (dedupe by canonical URL before touching content). The
    fixture has no URL column, so a deterministic URL is synthesized
    per document (mixed-case scheme/host, tracking query, fragment) and
    then canonicalized the standard way: lowercase, strip scheme and
    leading www., drop query+fragment, strip one trailing slash. Group
    by canonical URL; keep the min doc_id. Map-side expressions + ONE
    keyed shuffle — the exact-dedup shape, scales like
    dedup_exact_hash."""
    d = T(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM/"),
        F.col("lang"), F.lit("/p/"), (F.col("doc_id") % 40).cast("string"),
        F.lit("/?utm_source=feed&ref=rss#section-2"),
    )
    canon = F.regexp_replace(F.lower(raw), r"^https?://(www\.)?", "")
    canon = F.regexp_replace(canon, r"[?#].*$", "")
    canon = F.regexp_replace(canon, r"/$", "")
    return (
        d.select(canon.alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
        .orderBy(F.col("n_dups").desc(), F.col("canonical_url"))
        .limit(25)
    )


DEDUP_URL_SQL = r"""
WITH u AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               lower('HTTPS://WWW.' || source || '.Example.COM/' || lang || '/p/'
                     || CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=feed&ref=rss#section-2'),
               '^https?://(www\.)?', ''),
             '[?#].*$', ''),
           '/$', '') AS canonical_url
  FROM documents
)
SELECT canonical_url, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
FROM u GROUP BY canonical_url HAVING COUNT(*) > 1
ORDER BY n_dups DESC, canonical_url LIMIT 25
"""


def dedup_containment(spark, sf_dir):
    """Asymmetric shingle-containment dedup (RefinedWeb-style: drop A
    when |sh(A) ∩ sh(B)| / |sh(A)| is high — A is a sub-document of B,
    which symmetric Jaccard misses when B is much longer). Candidate
    pairs come from a deterministic ANCHOR bucket (docs sharing their
    minimum shingle); intersections are computed ONLY for candidates
    (cand ⋈ shingles ⋈ shingles — no all-pairs stage anywhere). The
    asymmetry filter (n_a < n_b, ties by id) emits each containment
    once. At 100 TB the anchor would be a banded min-hash (same shape,
    operators/dedup.py LSH path); the lexicographic min keeps this
    exact-oracle-able."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sh = D.shingles(d, n=2)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    anchors = sh.groupBy("doc_id").agg(F.min("shingle").alias("anchor"))
    cand = (
        anchors.select(F.col("doc_id").alias("doc_a"), "anchor")
        .join(anchors.select(F.col("doc_id").alias("doc_b"), "anchor"), "anchor")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    inter = (
        cand.join(sh.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a")
        .join(
            sh.withColumnsRenamed({"doc_id": "doc_b"}),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}), "doc_b")
        .filter((F.col("na") < F.col("nb")) | ((F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))))
        .select(
            "doc_a", "doc_b",
            F.round(F.col("inter").cast("double") / F.col("na"), 8).alias("containment"),
            "na", "nb",
        )
    )
    return out.orderBy(F.col("containment").desc(), "doc_a", "doc_b").limit(40)


DEDUP_CONTAINMENT_SQL = r"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, greatest(len(w)-1, 0)),
                                 i -> w[i] || ' ' || w[i+1])) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents WHERE doc_id < 300)
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
anchors AS (SELECT doc_id, MIN(shingle) AS anchor FROM sh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM anchors a JOIN anchors b ON a.anchor = b.anchor AND a.doc_id <> b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / na.n_sh, 8) AS containment,
       na.n_sh AS na, nb.n_sh AS nb
FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b
WHERE (na.n_sh < nb.n_sh OR (na.n_sh = nb.n_sh AND doc_a < doc_b))
ORDER BY containment DESC, doc_a, doc_b LIMIT 40
"""


def dedup_substring_remove(spark, sf_dir):
    """Exact substring dedup with SPAN REMOVAL (Lee et al. 2022):
    every 6-token span occurring ≥2× in the corpus keeps only its
    global first occurrence — all other occurrences' windows are cut
    out and the text reconstructed from the surviving tokens
    (operators/dedup.py::substring_dedup — one keyed shuffle on span
    identity, per-doc masks applied in-row). The result aggregates per
    source and fingerprints every cleaned text cross-engine
    (md5_number_lower % p), so a single token kept or cut wrongly in
    ANY document breaks the hash."""
    from pygdf_spark.operators.dedup import substring_dedup

    d = spread(T(spark, sf_dir, "documents"))  # 1-task scan: guide §2.5
    cleaned = substring_dedup(d, "doc_id", "text", k=6, carry=["source"])
    fp = md5_mod("clean_text")
    return (
        cleaned.groupBy("source")
        .agg(
            F.sum(F.when(F.col("n_removed") > 0, 1).otherwise(0)).alias(
                "docs_affected"
            ),
            F.sum("n_removed").alias("tokens_removed"),
            F.sum(fp).alias("clean_fp"),
        )
        .orderBy("source")
    )


DEDUP_SUBSTRING_SQL = r"""
WITH words AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos, doc_id * 4294967296 + (i - 1) AS ord,
         w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5] AS g
  FROM words, LATERAL UNNEST(generate_series(1, greatest(len(w) - 5, 0))) AS t(i)
),
winners AS (
  SELECT g, MIN(ord) AS first_ord FROM grams GROUP BY g HAVING COUNT(*) >= 2
),
masks AS (
  SELECT gr.doc_id, LIST(DISTINCT gr.pos) AS starts
  FROM grams gr JOIN winners wn ON gr.g = wn.g
  WHERE gr.ord <> wn.first_ord
  GROUP BY gr.doc_id
),
cleaned AS (
  SELECT wo.doc_id, wo.source, len(wo.w) AS n_tokens,
         CASE WHEN m.starts IS NULL THEN wo.w
              ELSE list_filter(wo.w, (x, i) -> NOT list_contains(
                     list_distinct(flatten(list_transform(
                       m.starts, s -> generate_series(s, s + 5)))),
                     i - 1))
         END AS cw
  FROM words wo LEFT JOIN masks m ON wo.doc_id = m.doc_id
)
SELECT source,
       CAST(SUM(CASE WHEN n_tokens - len(cw) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_affected,
       CAST(SUM(n_tokens - len(cw)) AS BIGINT) AS tokens_removed,
       -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws
       -- of an empty array is '' — a fully-deleted doc must fingerprint
       -- as '' in both engines, not silently drop out of the SUM
       CAST(SUM(md5_number_lower(COALESCE(array_to_string(cw, ' '), ''))
         % 2147483647) AS BIGINT) AS clean_fp
FROM cleaned GROUP BY source ORDER BY source
"""


def graph_triangle_count(spark, sf_dir):
    """Exact distributed triangle count (operators/graph.py — the
    degree-orientation "forward" algorithm; out-degrees bounded O(√m)
    so the wedge join cannot blow up on hub nodes) over the part
    co-purchase graph: parts appearing in the same order are linked.
    The oracle closes wedges with the simpler id-orientation — a
    different orientation finding the SAME unique triangle set, so
    count and Σ(a+b+c) checksum must agree exactly."""
    from pygdf_spark.operators.graph import triangle_count

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    l1 = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    l2 = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    edges = (
        l1.join(l2, "o")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    with shuffle_width(spark, 8):
        return triangle_count(edges)


GRAPH_TRIANGLE_SQL = """
WITH e AS (
  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_orderkey < 3000 AND l1.l_partkey < l2.l_partkey
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT
  (SELECT COUNT(*) FROM (SELECT u AS x FROM e UNION SELECT v FROM e))
    AS n_nodes,
  (SELECT COUNT(*) FROM e) AS n_edges,
  COUNT(*) AS n_triangles,
  CAST(COALESCE(SUM(a + b + c), 0) AS BIGINT) AS tri_checksum
FROM tri
"""


def dedup_fuzzy_block(spark, sf_dir):
    """Fuzzy (approximate-string) join via blocking — the entity-
    resolution primitive (operators/dedup.py::fuzzy_join): every 7th
    customer name is deterministically corrupted (5th character
    deleted), then matched back against the full roster. Candidates
    come from equality on the last-4-chars blocking key (invariant
    under the corruption), verified with exact Levenshtein ≤ 1 — the
    all-pairs edit-distance matrix never materializes. Aggregated by
    distance with a key-sum checksum, so a single spurious or missed
    pair breaks the hash."""
    from pygdf_spark.operators.dedup import fuzzy_join

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    probes = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("p_key"),
        F.concat(
            F.substring("c_name", 1, 4), F.expr("substring(c_name, 6)")
        ).alias("p_name"),
    )
    matched = fuzzy_join(
        probes.withColumnRenamed("p_name", "name"),
        c.withColumnRenamed("c_name", "name"),
        on="name",
        block=lambda s: F.substring(s, -4, 4),
        max_dist=1,
    )
    return (
        matched.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("p_key_l") + F.col("c_custkey_r")).alias("key_sum"),
        )
        .orderBy("dist")
    )


DEDUP_FUZZY_SQL = """
WITH probes AS (
  SELECT c_custkey AS p_key,
         substring(c_name, 1, 4) || substring(c_name, 6) AS p_name
  FROM customer WHERE c_custkey % 7 = 0
),
cand AS (
  SELECT p.p_key, c.c_custkey, levenshtein(p.p_name, c.c_name) AS dist
  FROM probes p JOIN customer c
    ON right(p.p_name, 4) = right(c.c_name, 4)
)
SELECT dist, COUNT(*) AS n_pairs,
       CAST(SUM(p_key + c_custkey) AS BIGINT) AS key_sum
FROM cand WHERE dist <= 1 GROUP BY dist ORDER BY dist
"""


QUERIES = {
    "dedup_substring_remove": dedup_substring_remove,
    "dedup_fuzzy_block": dedup_fuzzy_block,
    "graph_triangle_count": graph_triangle_count,
    "graph_connected_components": graph_connected_components,
    "graph_bfs_hops": graph_bfs_hops,
    "graph_pagerank": graph_pagerank,
    "pipeline_neardup_prune": pipeline_neardup_prune,
    "dedup_keep_list": dedup_keep_list,
    "dedup_exact_hash": dedup_exact_hash,
    "dedup_incremental": dedup_incremental,
    "dedup_prefix_groups": dedup_prefix_groups,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_decontaminate": dedup_decontaminate,
    "dedup_decontaminate_bloom": dedup_decontaminate_bloom,
    "dedup_span_fingerprint": dedup_span_fingerprint,
    "dedup_url_canonical": dedup_url_canonical,
    "dedup_containment": dedup_containment,
}

ORACLE = {
    "dedup_substring_remove": DEDUP_SUBSTRING_SQL,
    "dedup_fuzzy_block": DEDUP_FUZZY_SQL,
    "graph_triangle_count": GRAPH_TRIANGLE_SQL,
    "graph_connected_components": GRAPH_CC_SQL,
    "graph_bfs_hops": GRAPH_BFS_SQL,
    "graph_pagerank": _pagerank_sql(),
    "pipeline_neardup_prune": _neardup_prune_sql(),
    "dedup_keep_list": DEDUP_KEEP_LIST_SQL,
    "dedup_exact_hash": DEDUP_EXACT_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "dedup_prefix_groups": DEDUP_PREFIX_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_decontaminate": DEDUP_DECONTAMINATE_SQL,
    "dedup_decontaminate_bloom": DEDUP_DECONTAMINATE_BLOOM_SQL,
    "dedup_span_fingerprint": DEDUP_SPAN_SQL,
    "dedup_url_canonical": DEDUP_URL_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
}
